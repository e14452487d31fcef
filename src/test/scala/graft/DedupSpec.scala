package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends TestBase {

  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("every dedup operator is well-defined on EMPTY inputs (no NPE class)") {
    val empty = docs()
    val d = docs(1L -> "a b c d", 2L -> "a b c e")
    assert(Dedup.exact(empty).count() == 0)
    assert(Dedup.exactIncrement(Dedup.exact(d).select("h"), empty).count() == 0)
    assert(Dedup.shingles(empty).count() == 0)
    assert(Dedup.lshCandidatePairs(empty).count() == 0)
    assert(Dedup.nearDupScores(empty).count() == 0)
    assert(Dedup.simhash64(empty).count() == 0)
    assert(Dedup.simhashPairs(Dedup.simhash64(empty)).count() == 0)
    assert(Dedup.contaminationHits(d, empty).count() == 0)
    assert(Dedup.contaminationHits(empty, d).count() == 0)
    val noPairs = docs().select(col("doc_id").as("doc_a"), col("doc_id").as("doc_b"))
    assert(Dedup.editSimilarity(d, noPairs).count() == 0)
    assert(Dedup.ngramJaccard(d, noPairs).count() == 0)
  }

  test("exact dedup keeps lowest doc_id per distinct text") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z", 9L -> "a b c")
    val got = Dedup.exact(d).orderBy("keep_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L), (3L, 1L)))
  }

  test("shingles: word n-grams; short docs fall back to their WHOLE text") {
    val got = Dedup.shingles(docs(1L -> "a b c d", 2L -> "xy", 3L -> "p q"), n = 3)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a b c"), (1L, "b c d"), (2L, "xy"), (3L, "p q")))
    // two distinct short docs must NOT collapse to the same shingle set
    val short = Dedup.shingles(docs(1L -> "foo bar", 2L -> "foo qux"), n = 3)
      .as[(Long, String)].collect().toSet
    assert(short == Set((1L, "foo bar"), (2L, "foo qux")))
  }

  test("contamination hits: n-gram overlap with the eval set, distinct counts") {
    val corpus = docs(
      10L -> "the quick brown fox jumps", // shares "the quick brown"+"quick brown fox" with eval
      11L -> "totally different words here",
      12L -> "quick brown fox jumps far", // shares "quick brown fox"
      13L -> "quick brown fox quick brown fox x") // repeated shingle counts ONCE
    val evalSet = docs(1L -> "the quick brown fox")
    val got = Dedup.contaminationHits(corpus, evalSet)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 2L, 12L -> 1L, 13L -> 1L)) // 11 is clean: absent
  }

  test("clusterDedupFirst == CC over the expanded pair graph (dup-dense fixture)") {
    // Duplicate-dense corpus: near-identical texts with multiple copies
    // each, interleaved ids — rep-level CC + label inheritance must produce
    // EXACTLY the labeling of doc-level CC over the expanded pairs.
    val base = Seq(
      "a b c d e f g", "a b c d e f h", // near-dup pair of texts
      "p q r s t u v",                  // unrelated text
      "x y z w k m n")
    val d = docs((for {
      (t, i) <- base.zipWithIndex
      copy <- 0 until 3
    } yield (copy * 100L + i, t)): _*)
    val viaReps = Dedup.clusterDedupFirst(d)
      .as[(Long, Long)].collect().toSet
    val viaExpanded = Dedup.connectedComponents(Dedup.lshCandidatePairsDedup(d))
      .as[(Long, Long)].collect().toSet
    assert(viaReps == viaExpanded)
    assert(viaReps.nonEmpty)
  }

  test("clusterDedupFirst: over-maxBucket groups neither emit nor influence labels") {
    // Text X has 5 copies (> maxBucket = 3) — a mega-group; Y ≈ Z is a
    // near-dup pair of X variants whose docs ARE emitted. Before the r5 fix,
    // X's rep (id 1) joined the LSH graph, could win the component min, and
    // minted a cluster_id that never appeared as any output row's doc_id —
    // a phantom label breaking keep = (doc_id == cluster_id).
    val base = "a b c d e f g h i j"
    val d = docs(((1L to 5L).map(i => i -> base) ++ Seq(
      10L -> (base + " extra"),
      11L -> (base + " extra extra"))): _*)
    val got = Dedup.clusterDedupFirst(d, maxBucket = 3)
      .as[(Long, Long)].collect().toSet
    val emitted = got.map(_._1)
    assert(emitted.intersect((1L to 5L).toSet).isEmpty,
      s"mega-group docs must not be emitted: $got")
    assert(got.map(_._2).subsetOf(emitted), s"phantom cluster ids in $got")
    assert(got == Set(10L -> 10L, 11L -> 10L), s"got $got")
  }

  test("connectedComponents: local union-find finish == pure distributed rounds") {
    // Chain (worst case for naive propagation), clique, isolated pair, plus
    // duplicate and reversed edges — labels must be the component MIN in
    // both execution modes.
    val p = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L,
      10L -> 11L, 11L -> 12L, 10L -> 12L, 21L -> 20L, 2L -> 1L)
      .toDF("doc_a", "doc_b")
    val expected = Set(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (6L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L))
    def run(localMax: Long) =
      Dedup.connectedComponents(p, 50, localMax).as[(Long, Long)].collect().toSet
    // default threshold ≫ edges → single-task finish
    assert(Dedup.connectedComponents(p).as[(Long, Long)].collect().toSet == expected)
    assert(run(0) == expected) // force pure distributed
  }

  test("connectedComponents: mid-loop handoff from distributed rounds to local finish") {
    // 12-clique: 66 canonical edges (> threshold 20) force ≥ 1 distributed
    // round; star contraction then drops the set to 11 edges (≤ 20), so the
    // local union-find finishes a PARTIALLY contracted graph.
    val nodes = 100L to 111L
    val p = (for { a <- nodes; b <- nodes if a < b } yield (a, b))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(p, 50, localMax = 20)
      .as[(Long, Long)].collect().toSet
    assert(got == nodes.map(x => (x, 100L)).toSet)
  }

  test("operators release every cache they register (r4 leak regression)") {
    // BENCH_r04 showed 2-6x slowdowns on unchanged code because dedup/
    // similarity operators persisted intermediates and never released them.
    // The ownership contract now: materialize the output-scale result into
    // checkpoint blocks, unpersist everything else — so after ANY of these
    // operators completes, the session cache manager must hold nothing.
    // (Suites run sequentially — build.sbt — so the global check is sound.)
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.clearCache()
    val d = docs((1L to 30L).map(i => (i, s"t$i a b c d e f g h i")): _*)
    Dedup.nearDupScores(d).count()
    Dedup.containmentDedup(d).count()
    Dedup.clusterDedupFirst(d).count()
    Dedup.simhashPairs(Dedup.simhash64(d)).count()
    Dedup.ngramJaccard(d, Dedup.lshCandidatePairsDedup(d)).count()
    val embs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.01f)), (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    graft.operators.Similarity.bucketedNearDup(embs, 0.9).count()
    assert(cm.isEmpty,
      "an operator left persisted intermediates registered in the cache manager")
  }

  test("graft.checkpointDir routes materialization to a RELIABLE checkpoint") {
    // Fault-tolerance mode for long-lived cluster drivers: with the conf
    // set, operator results (and each CC round) checkpoint to the reliable
    // directory — surviving executor loss — instead of executor-local
    // blocks. Results must be identical either way.
    val d = docs(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "a b c d e f g x"), (4L, "q r s t u v w z"))
    val local = Dedup.clusterDedupFirst(d).collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("graft.checkpointDir", dir)
    try {
      val reliable = Dedup.clusterDedupFirst(d)
      assert(reliable.collect().toSet === local)
      val wrote = scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir)))(
        _.filter(p => java.nio.file.Files.isRegularFile(p)).count())
      assert(wrote > 0, s"no reliable checkpoint files written under $dir")
    } finally spark.conf.unset("graft.checkpointDir")
  }

  test("reliable checkpointing covers the distributed CC rounds end-to-end") {
    // The :157 test exercises `materializeThenRelease`'s reliable branch but
    // its tiny graphs finish in the single-task union-find — the PER-ROUND
    // checkpoint inside the large-star/small-star loop never runs. Force
    // pure distributed rounds (localMax = 0) under graft.checkpointDir on
    // a path graph (needs several contraction rounds) and require BOTH:
    // labels identical to default local-checkpoint mode, and new reliable
    // checkpoint files on disk.
    val p = (1L to 40L).sliding(2).map(w => (w.head, w.last)).toSeq
      .toDF("doc_a", "doc_b")
    val expected = Dedup.connectedComponents(p).as[(Long, Long)].collect().toSet
    assert(expected == (1L to 40L).map(x => (x, 1L)).toSet)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-cc").toString
    spark.conf.set("graft.checkpointDir", dir)
    try {
      val got = Dedup.connectedComponents(p, 50, localMax = 0)
        .as[(Long, Long)].collect().toSet
      assert(got == expected)
      val wrote = scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir)))(
        _.filter(pp => java.nio.file.Files.isRegularFile(pp)).count())
      // ≥ 1 file per checkpointed round; a 39-edge path needs several rounds
      assert(wrote >= 2, s"expected per-round reliable checkpoints under $dir, found $wrote files")
    } finally spark.conf.unset("graft.checkpointDir")
  }

  test("graft.eagerRelease=false returns the lazy plan and transfers cache ownership") {
    // The opt-out `graft.Explain` depends on: no checkpoint truncation (a
    // plan dump must show the operator chain, not a checkpoint-RDD scan)
    // and intermediates left cached for the caller to release.
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.clearCache()
    spark.conf.set("graft.eagerRelease", "false")
    try {
      val d = docs((1L to 10L).map(i => (i, s"t$i a b c d e f g h i")): _*)
      val out = Dedup.nearDupScores(d)
      val plan = out.queryExecution.optimizedPlan.toString
      assert(!plan.contains("LogicalRDD"),
        "lazy mode must not checkpoint-truncate the plan")
      assert(plan.contains("Generate"),
        "plan dump must still show the shingle explode chain")
      out.count()
      assert(!cm.isEmpty, "caller-owned caches must remain registered")
    } finally {
      spark.conf.unset("graft.eagerRelease")
      spark.catalog.clearCache()
    }
  }

  test("pairOverlapStats leaves a caller-persisted pair set cached") {
    // Cache ownership: a caller that persists one candidate set to score it
    // with BOTH scorers must keep its cache across the first call — the
    // operator takes ownership only of pair sets it persisted itself.
    val d = docs((1L to 10L).map(i => (i, s"t$i a b c d e f g h i")): _*)
    val sh = Dedup.shingles(d)
    val pairs = Dedup.lshCandidatePairs(d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Dedup.ngramJaccardFromShingles(sh, pairs).count()
      assert(pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "operator unpersisted the caller's pair cache")
      Dedup.containmentFromShingles(sh, pairs).count()
      assert(pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "operator unpersisted the caller's pair cache on the second scorer")
    } finally pairs.unpersist(true)
  }

  test("containmentDedup: asymmetric scores keep orientation through expansion") {
    // Short text S is a near-subset of long text L; each has two copies with
    // member ids interleaved so the (least, greatest) re-canonicalization
    // FLIPS some member pairs relative to the rep pair — exercising the
    // orientation swap. (L = S + one token ⇒ the texts share most shingles,
    // so LSH banding puts them in the same bucket deterministically.)
    val d = docs(
      1L -> "a b c d e f g h", 6L -> "a b c d e f g h", // L, rep = 1
      2L -> "a b c d e f g", 5L -> "a b c d e f g")     // S, rep = 2
    val got = Dedup.containmentDedup(d)
      .as[(Long, Long, Double, Double)].collect().toSeq
    val shortIds = Set(2L, 5L)
    val cross = got.filter(r => shortIds(r._1) != shortIds(r._2))
    assert(cross.nonEmpty, "S×L candidate pairs must surface via shared bands")
    assert(cross.exists(r => shortIds(r._1)) && cross.exists(r => shortIds(r._2)),
      "both orientations must occur or the flip path is untested")
    cross.foreach { r =>
      val (contShort, contLong) = if (shortIds(r._1)) (r._3, r._4) else (r._4, r._3)
      assert(contShort > contLong,
        s"containment must stay attached to the SHORT side after expansion: $r")
    }
    // within-group pairs are identity-scored
    got.filter(r => shortIds(r._1) == shortIds(r._2))
      .foreach(r => assert(r._3 == 1.0 && r._4 == 1.0))
  }

  test("identical docs share full minhash signature; disjoint docs don't") {
    val d = docs(1L -> "a b c d e f", 2L -> "a b c d e f", 3L -> "q r s t u v")
    val sigs = Dedup.minhashSignatures(d, numHashes = 4)
      .groupBy("doc_id").agg(sort_array(collect_list(struct($"seed", $"h"))).as("sig"))
      .as[(Long, Seq[(Int, Long)])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("LSH candidates include identical pair, not disjoint pair") {
    val d = docs(1L -> "a b c d e f", 2L -> "a b c d e f", 3L -> "q r s t u v")
    val pairs = Dedup.lshCandidatePairs(d).as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard: identical = 1.0, known overlap computed exactly") {
    val d = docs(1L -> "a b c d", 2L -> "a b c d", 3L -> "b c d e")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val j = Dedup.ngramJaccard(d, pairs).as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(j((1L, 2L)) == 1.0)
    // shingles(1)={abc,bcd}, shingles(3)={bcd,cde}: |∩|=1, |∪|=3
    assert(j((1L, 3L)) == 0.333333)
  }

  test("simhash: 16-bit signature, identical docs equal") {
    val d = docs(1L -> "a b c d e f g h", 2L -> "a b c d e f g h", 3L -> "q r s t u v w x")
    val sigs = Dedup.simhash(d).as[(Long, String)].collect().toMap
    assert(sigs.values.forall(s => s.length == 16 && s.forall(c => c == '0' || c == '1')))
    assert(sigs(1L) == sigs(2L))
  }

  test("simhash64: identical docs at hamming 0, pairs found via band join") {
    val d = docs(1L -> "a b c d e f g h", 2L -> "a b c d e f g h", 3L -> "q r s t u v w x")
    val sigs = Dedup.simhash64(d).as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    val pairs = Dedup.simhashPairs(Dedup.simhash64(d), maxHamming = 0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("band-blocked simhash64 pairs == brute force at hamming <= 3 (pigeonhole)") {
    // varied docs + exact twins (hamming 0) + one-token-off twins (small
    // hamming) → the blocked join must find exactly the brute-force pairs
    val base = (0L until 30L).map(i =>
      i -> s"tok${i % 7} tok${(i * 3) % 11} tok${(i * 5) % 13} alpha beta gamma delta")
    val twins = (0L until 10L).map(i => (i + 100L) -> base(i.toInt)._2)
    val near = (10L until 20L).map(i => (i + 200L) -> (base(i.toInt)._2 + " zz"))
    val d = (base ++ twins ++ near).toDF("doc_id", "text")
    val sigs = Dedup.simhash64(d)
    val blocked = Dedup.simhashPairs(sigs, maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val local = sigs.as[(Long, Long)].collect()
    val brute = (for {
      a <- local; b <- local if a._1 < b._1
      if java.lang.Long.bitCount(a._2 ^ b._2) <= 3
    } yield (a._1, b._1)).toSet
    assert(brute.nonEmpty, "fixture must produce at least the exact-twin pairs")
    assert(blocked == brute)
  }

  test("embedding near-dup finds identical vectors only, at threshold 0.9") {
    val e = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),   // identical to 1
      (3L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal
      (4L, Array(2.0f, 0.0f, 0.0f))    // same direction as 1, scaled
    ).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDup(e, 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("dedup-first near-dup scores == doc-level chain on a dup-dense corpus") {
    // 3 distinct texts, one with 3 copies and one with 2: candidacy and
    // scores must match the doc-level shingle→LSH→Jaccard chain exactly.
    val d = docs(
      1L -> "a b c d e f", 2L -> "a b c d e f", 7L -> "a b c d e f",
      3L -> "a b c d e g", 5L -> "a b c d e g",
      9L -> "q r s t u v")
    val fast = Dedup.nearDupScores(d)
      .as[(Long, Long, Double)].collect().toSet
    val sh = Dedup.shingles(d)
    val slow = Dedup.ngramJaccardFromShingles(sh, Dedup.lshCandidatePairsFromShingles(sh))
      .as[(Long, Long, Double)].collect().toSet
    assert(fast == slow)
    assert(fast.contains((1L, 2L, 1.0)) && fast.contains((1L, 7L, 1.0)))
    assert(!fast.exists(p => p._1 == 9L || p._2 == 9L))
  }

  test("crossNearDup: cross pairs only, thresholded; id spaces may overlap") {
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog", // in-corpus dup: must NOT pair
      3L -> "completely unrelated corpus text body here now")
    val batch = docs(
      1L -> "the quick brown fox jumps over the lazy dog", // same id AND text as corpus 1: exact cross match
      7L -> "the quick brown fox jumps over the lazy dog extra", // near-dup
      8L -> "nothing like anything in the standing corpus at all")
    val got = Dedup.crossNearDup(corpus, batch, threshold = 0.5)
      .select("batch_id", "corpus_id", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // batch 1 and 7 match corpus 1 AND its duplicate 2; batch 8 matches
    // nothing; corpus-internal pair (1,2) and batch-internal pairs never
    // appear. Exact matches score 1.0; the near-dup holds all 7 corpus
    // shingles among its 8 (inter=7, union=8 → 7/8).
    assert(got.map { case (b, c, _) => (b, c) } ==
      Set((1L, 1L), (1L, 2L), (7L, 1L), (7L, 2L)))
    assert(got.filter(_._1 == 1L).forall(_._3 == 1.0))
    assert(got.filter(_._1 == 7L).forall(_._3 == 0.875))
  }

  test("crossNearDup: empty batch and empty corpus are both well-defined") {
    val d = docs(1L -> "a b c d e", 2L -> "a b c d f")
    assert(Dedup.crossNearDup(d, docs()).count() == 0)
    assert(Dedup.crossNearDup(docs(), d).count() == 0)
  }

  test("crossNearDupIndexed: prebuilt index probe == in-memory operator; family from manifest") {
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "completely unrelated corpus text body here now")
    val batch = docs(
      7L -> "the quick brown fox jumps over the lazy dog extra",
      8L -> "nothing like anything in the standing corpus at all")
    val dir = java.nio.file.Files.createTempDirectory("graft-xindex").toString
    Dedup.buildCrossNearDupIndex(corpus, dir)
    val direct = Dedup.crossNearDup(corpus, batch, threshold = 0.5)
    val indexed = Dedup.crossNearDupIndexed(spark, dir, batch, threshold = 0.5)
    assert(indexed.count() > 0)
    assert(indexed.exceptAll(direct).isEmpty && direct.exceptAll(indexed).isEmpty)
    // The probe reads the LSH family from the manifest, not from arguments:
    // an index built with a DIFFERENT family (2-shingles) must reproduce
    // the in-memory operator at that family with no hint at probe time.
    val dir2 = java.nio.file.Files.createTempDirectory("graft-xindex2").toString
    Dedup.buildCrossNearDupIndex(corpus, dir2, n = 2)
    val direct2 = Dedup.crossNearDup(corpus, batch, threshold = 0.5, n = 2)
    val indexed2 = Dedup.crossNearDupIndexed(spark, dir2, batch, threshold = 0.5)
    assert(indexed2.exceptAll(direct2).isEmpty && direct2.exceptAll(indexed2).isEmpty)
  }

  test("appendToCrossNearDupIndex: grown index == rebuild == in-memory over the union") {
    val gen1 = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "completely unrelated corpus text body here now")
    val gen2 = docs(
      3L -> "the quick brown fox jumps over the lazy dog indeed",
      4L -> "another standing corpus document arriving later on")
    val batch = docs(
      7L -> "the quick brown fox jumps over the lazy dog extra",
      8L -> "another standing corpus document arriving later on too")
    val grown = java.nio.file.Files.createTempDirectory("graft-xindex-grow").toString
    Dedup.buildCrossNearDupIndex(gen1, grown)
    Dedup.appendToCrossNearDupIndex(gen2, grown)
    val viaGrown = Dedup.crossNearDupIndexed(spark, grown, batch, threshold = 0.3)
    // batch 7 must hit docs from gen1 AND batch 8 docs from gen2 — the
    // append genuinely extends the probe-able corpus.
    assert(viaGrown.where(col("corpus_id") === 1L).count() > 0)
    assert(viaGrown.where(col("corpus_id") === 4L).count() > 0)
    val direct = Dedup.crossNearDup(gen1.unionAll(gen2), batch, threshold = 0.3)
    assert(viaGrown.exceptAll(direct).isEmpty && direct.exceptAll(viaGrown).isEmpty)
    val rebuilt = java.nio.file.Files.createTempDirectory("graft-xindex-rebuild").toString
    Dedup.buildCrossNearDupIndex(gen1.unionAll(gen2), rebuilt)
    val viaRebuilt = Dedup.crossNearDupIndexed(spark, rebuilt, batch, threshold = 0.3)
    assert(viaGrown.exceptAll(viaRebuilt).isEmpty && viaRebuilt.exceptAll(viaGrown).isEmpty)
  }

  test("indexed probe re-caps buckets over the union of increments") {
    // 3 identical docs per increment, cap = 4: each increment is under the
    // cap, the union (6) is over it — the probe must drop the bucket, as a
    // full rebuild over the union would.
    val mk = (ids: Seq[Long]) => docs(ids.map(_ -> "same boilerplate text body"): _*)
    val probe = docs(9L -> "same boilerplate text body")
    val dir = java.nio.file.Files.createTempDirectory("graft-xindex-recap").toString
    Dedup.buildCrossNearDupIndex(mk(1L to 3L), dir, maxBucket = 4)
    Dedup.appendToCrossNearDupIndex(mk(4L to 6L), dir)
    assert(Dedup.crossNearDupIndexed(spark, dir, probe, threshold = 0.5).count() == 0,
      "a bucket oversized across increments must be dropped at probe time")
    // and the in-memory form agrees on the unioned corpus
    assert(Dedup.crossNearDup(mk(1L to 6L), probe,
      threshold = 0.5, maxBucket = 4).count() == 0)
    // An increment that is ITSELF oversized: buckets store uncapped, so
    // the probe's union count keeps the bucket dropped after a later small
    // append too — a build-time cap would have discarded the first five
    // docs' rows and then KEPT the bucket on the strength of the sixth.
    val dir2 = java.nio.file.Files.createTempDirectory("graft-xindex-recap2").toString
    Dedup.buildCrossNearDupIndex(mk(11L to 15L), dir2, maxBucket = 4)
    assert(Dedup.crossNearDupIndexed(spark, dir2, probe, threshold = 0.5).count() == 0)
    Dedup.appendToCrossNearDupIndex(mk(16L to 16L), dir2)
    assert(Dedup.crossNearDupIndexed(spark, dir2, probe, threshold = 0.5).count() == 0,
      "an oversized increment must stay dropped after later appends")
    assert(Dedup.crossNearDup(mk(11L to 16L), probe,
      threshold = 0.5, maxBucket = 4).count() == 0)
  }

  test("indexed probe converges under a replayed (duplicate) append") {
    // A retried half-failed append re-writes an increment's rows. Probes
    // must collapse the duplicates: scores stay exact (not doubled), and
    // the distinct-doc bucket count keeps the cap decision unchanged.
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "completely unrelated corpus text body here now")
    val batch = docs(7L -> "the quick brown fox jumps over the lazy dog extra")
    val dir = java.nio.file.Files.createTempDirectory("graft-xindex-replay").toString
    Dedup.buildCrossNearDupIndex(corpus, dir)
    val once = Dedup.crossNearDupIndexed(spark, dir, batch, threshold = 0.3)
    Dedup.appendToCrossNearDupIndex(corpus, dir) // replay of the same docs
    val replayed = Dedup.crossNearDupIndexed(spark, dir, batch, threshold = 0.3)
    assert(replayed.exceptAll(once).isEmpty && once.exceptAll(replayed).isEmpty)
  }

  test("crossNearDupIndexed: empty corpus index round-trips and matches nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-xindex-empty").toString
    Dedup.buildCrossNearDupIndex(docs(), dir)
    assert(Dedup.crossNearDupIndexed(spark, dir,
      docs(1L -> "a b c d e")).count() == 0)
  }

  test("incrementalClusters == full recompute; untouched labels pass through") {
    def pairs(ps: (Long, Long)*) = ps.toDF("doc_a", "doc_b")
    // initial graph: components {1,2,3}, {10,11}, {20,21} (labels = min)
    val e1 = pairs(1L -> 2L, 2L -> 3L, 10L -> 11L, 20L -> 21L)
    val labels0 = Dedup.connectedComponents(e1)
    // increment: merge {1,2,3} with {10,11} through a new node 99, and
    // add a brand-new two-node component {50,51}; {20,21} is untouched
    val e2 = pairs(3L -> 99L, 99L -> 10L, 50L -> 51L)
    val got = Dedup.incrementalClusters(labels0, e2)
      .as[(Long, Long)].collect().toSet
    val full = Dedup.connectedComponents(e1.unionAll(e2))
      .as[(Long, Long)].collect().toSet
    assert(got == full)
    assert(got.contains(10L -> 1L) && got.contains(99L -> 1L),
      "merged component must relabel to the global min")
    assert(got.contains(21L -> 20L), "untouched component keeps its label")
    assert(got.contains(51L -> 50L), "new nodes form their own cluster")
    // chaining: the operator's own output is a valid labels input
    val got2 = Dedup.incrementalClusters(got.toSeq.toDF("doc_id", "cluster_id"),
      pairs(21L -> 51L)).as[(Long, Long)].collect().toSet
    val full2 = Dedup.connectedComponents(
      e1.unionAll(e2).unionAll(pairs(21L -> 51L))).as[(Long, Long)].collect().toSet
    assert(got2 == full2)
    // empty increment returns the labels unchanged; empty labels = plain CC
    assert(Dedup.incrementalClusters(labels0, pairs())
      .as[(Long, Long)].collect().toSet ==
      labels0.as[(Long, Long)].collect().toSet)
    assert(Dedup.incrementalClusters(Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id"),
      e1).as[(Long, Long)].collect().toSet ==
      labels0.as[(Long, Long)].collect().toSet)
  }

  test("incrementalClusters matches full recompute on a dense random graph") {
    // the union-find reference pattern: random edges split into two
    // generations, incremental(CC(gen1), gen2) must equal CC(gen1 ∪ gen2)
    val rnd = new scala.util.Random(7)
    val all = Seq.fill(300)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
    val (g1, g2) = all.splitAt(all.size / 2)
    val e1 = g1.toDF("doc_a", "doc_b")
    val e2 = g2.toDF("doc_a", "doc_b")
    val inc = Dedup.incrementalClusters(Dedup.connectedComponents(e1), e2)
      .as[(Long, Long)].collect().toSet
    val full = Dedup.connectedComponents(e1.unionAll(e2))
      .as[(Long, Long)].collect().toSet
    assert(inc == full)
  }

  test("incremental exact dedup: batch dedups internally and against keeps") {
    val keeps = Seq("old text").toDF("text").select(md5($"text").as("h"))
    val batch = docs(5L -> "old text", 7L -> "new text", 9L -> "new text", 3L -> "other")
    val got = Dedup.exactIncrement(keeps, batch)
      .select("keep_id").as[Long].collect().toSet
    assert(got == Set(3L, 7L)) // re-delivery of "old text" dropped; 9 loses to 7
  }

  test("containment: subset doc scores cont_a 1.0, superset direction lower") {
    val d = docs(1L -> "a b c d", 2L -> "a b c d e")
    val sh = Dedup.shingles(d)
    val got = Dedup.containmentFromShingles(sh, Seq((1L, 2L)).toDF("doc_a", "doc_b"))
      .as[(Long, Long, Double, Double)].collect().head
    // sh(1)={abc,bcd} ⊂ sh(2)={abc,bcd,cde}
    assert(got == ((1L, 2L, 1.0, 0.666667)))
  }

  test("dedup-first cap: mega-groups emit no pairs, small groups unaffected") {
    val d = docs(
      1L -> "a b c d e f", 2L -> "a b c d e f", 3L -> "a b c d e f", 4L -> "a b c d e f",
      8L -> "q r s t u v", 9L -> "q r s t u v")
    val got = Dedup.nearDupScores(d, maxBucket = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // the 4-copy group exceeds the cap (no pairs, within or expanded);
    // the 2-copy group still pairs
    assert(got == Set((8L, 9L)))
  }

  test("edit similarity: classic kitten/sitting distance, exact dup = 1.0") {
    val d = docs(1L -> "kitten", 2L -> "sitting", 3L -> "kitten")
    val got = Dedup.editSimilarity(d, Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b"))
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got((1L, 2L)) == ((3L, 0.571429))) // 1 - 3/7
    assert(got((1L, 3L)) == ((0L, 1.0)))
  }

  test("winnowing: shared long passage detected, disjoint docs silent, short docs ok") {
    val passage = "the quick brown fox jumps over the lazy dog while carrying " +
      "a remarkably heavy dictionary of winnowed fingerprints across the yard"
    val d = docs(
      1L -> (passage + " first document unique tail content here"),
      2L -> (passage + " second tail entirely different from the first"),
      3L -> "completely unrelated text with no overlap whatsoever in any window of it",
      4L -> "tiny") // shorter than k: whole-text gram, no crash
    val got = Dedup.substringDupPairs(d, k = 32, w = 16, minShared = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.map(r => (r._1, r._2)) == Set((1L, 2L)))
    assert(got.head._3 >= 3) // the ~130-char shared passage yields several fps
    // winnowing guarantee floor: shared substring >= k + w - 1 chars ⇒ >= 1
    // shared fingerprint — 1 and 2 share far more, 3 shares none
    val fps = Dedup.winnowedFingerprints(d, 32, 16)
    val f1 = fps.where(col("doc_id") === 1).select("fp").as[Long].collect().toSet
    val f3 = fps.where(col("doc_id") === 3).select("fp").as[Long].collect().toSet
    assert((f1 & f3).isEmpty)
    // density: winnowed fps ≈ 2/(w+1) of grams — far fewer than gram count
    assert(f1.size < (passage.length + 40) / 4)
  }

  test("winnowing: identical docs share every fingerprint; cap silences mega-buckets") {
    val t = "a shared boilerplate license header that appears verbatim in every single document of this corpus"
    val d = docs(1L -> t, 2L -> t, 3L -> t)
    val fps = Dedup.winnowedFingerprints(d, 32, 16)
    val sets = (1L to 3L).map(i =>
      fps.where(col("doc_id") === i).select("fp").as[Long].collect().toSet)
    assert(sets(0) == sets(1) && sets(1) == sets(2))
    // cap at maxBucket=2: every fp bucket holds 3 docs → all dropped → no pairs
    assert(Dedup.substringDupPairs(d, 32, 16, minShared = 1, maxBucket = 2).count() == 0)
    // uncapped: all three pairs, sharing the full fp set
    val pairs = Dedup.substringDupPairs(d, 32, 16, minShared = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(pairs.forall(_._3 == sets(0).size.toLong))
  }

  test("winnowing: native winnow_fps == SQL formulations on every edge") {
    // Same (doc_id, fp) set from the native one-pass expression (the
    // default), the nested-HOF SQL form, and the explode+window SQL form,
    // across the edges that could diverge: len < k (single truncated
    // gram), k <= len < k+w-1 (single window over a short hash array),
    // long text (many windows), duplicate minima within a doc (per-doc
    // dedup), empty text (md5 of zero bytes), MULTI-BYTE text including a
    // supplementary-plane emoji (the native expression walks code-point
    // byte offsets and must agree with substring()'s char semantics, where
    // the emoji is ONE char — a Java-String UTF-16 walk would see two),
    // and the (k, w) defaults vs custom.
    val passage = "the quick brown fox jumps over the lazy dog while carrying " +
      "a remarkably heavy dictionary of winnowed fingerprints across the yard"
    val d = docs(
      1L -> (passage + " first document unique tail content here " + passage),
      2L -> "tiny",
      3L -> "exactly thirty-two characters!!!",
      4L -> ("short but past one gram window " + "x" * 20),
      5L -> ("r" * 200), // degenerate: every gram identical → one fp
      6L -> "",
      7L -> ("naïve café — über résumé 💯 emoji and accented text running " +
        "well past the gram width with 日本語 characters mixed in too"))
    for ((k, w) <- Seq((32, 16), (8, 4))) {
      val a = Dedup.winnowedFingerprints(d, k, w)
      val b = DedupSpec.winnowedFingerprintsSql(d, k, w)
      val c = DedupSpec.winnowedFingerprintsExploded(d, k, w)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"native vs nested-SQL disagree at k=$k w=$w")
      assert(a.exceptAll(c).count() == 0 && c.exceptAll(a).count() == 0,
        s"native vs exploded-SQL disagree at k=$k w=$w")
    }
  }

  test("edit similarity floored == unfloored + filter (bound prune is invisible)") {
    // The length-difference gate may only skip DPs that cannot reach the
    // floor — the floored result must equal filtering the full result,
    // including pairs AT the floor (rounding slack) and pairs pruned by
    // the bound (1 vs 5: |Δlen| alone kills 0.5).
    val d = docs(1L -> "kitten", 2L -> "sitting", 3L -> "kitten",
      4L -> "kitten sitting on a mat", 5L -> "a very much longer unrelated text body here")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 5L), (4L, 5L)).toDF("doc_a", "doc_b")
    val full = Dedup.editSimilarity(d, pairs)
      .as[(Long, Long, Long, Double)].collect().toSet
    val floored = Dedup.editSimilarity(d, pairs, Some(0.5))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(floored == full.filter(_._4 >= 0.5))
    assert(floored.map(r => (r._1, r._2)) == Set((1L, 2L), (1L, 3L))) // non-vacuous
  }

  test("gated edit: agreement floor drops template collisions, keeps near-dups") {
    // 1≈2 near-identical (high seed agreement, edit_sim ≥ 0.5); 3/4 share
    // a template prefix — enough for LSH band collisions sometimes, but
    // character-level different enough that the 0.5 floor drops them; the
    // planted near-pair must survive the full gate chain.
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog tonight",
      3L -> "common template header one two three alpha beta gamma delta",
      4L -> "totally unrelated tail words here nine ten eleven twelve")
    val got = Dedup.editSimilarityGated(d, minSim = 0.5, minAgree = 4)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got.map(r => (r._1, r._2)) == Set((1L, 2L)))
    assert(got.forall(_._4 >= 0.5))
  }

  test("gated containment: identical to the floor-filtered ungated chain on the fixture") {
    // near-dup pair (1,2), an exact copy (5 of 1, within-group identity
    // scores), template docs 3/4 that never clear the floor — the
    // dd_edit_gated fixture geometry on the containment scorer.
    val d = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "the quick brown fox jumps over the lazy dog tonight",
      3L -> "common template header one two three alpha beta gamma delta",
      4L -> "totally unrelated tail words here nine ten eleven twelve",
      5L -> "the quick brown fox jumps over the lazy dog today")
    val gated = Dedup.containmentDedupGated(d, minCont = 0.5, minAgree = 4)
      .as[(Long, Long, Double, Double)].collect().toSet
    val full = Dedup.containmentDedup(d)
      .where(greatest(col("cont_a"), col("cont_b")) >= 0.5)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(gated == full, s"gated $gated != filtered ungated $full")
    val pairsOnly = gated.map(p => (p._1, p._2))
    assert(pairsOnly.contains((1L, 2L)) && pairsOnly.contains((1L, 5L)))
    // within-group expansion scores identity, not measurement
    assert(gated.find(p => (p._1, p._2) == (1L, 5L)).get._3 == 1.0)
  }

  private def cc(pairs: (Long, Long)*): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap

  test("connected components: path graph collapses to min (transitive chain)") {
    // 0-1-2-…-9: the worst case for per-round label propagation; every node
    // must still land on cluster 0 within the round budget.
    val chain = (0L until 9L).map(i => (i, i + 1))
    assert(cc(chain: _*) == (0L to 9L).map(_ -> 0L).toMap)
  }

  test("connected components: cycles, multi-component graphs, reversed pairs") {
    val got = cc((5L, 3L), (3L, 7L), (7L, 5L), // cycle {3,5,7}
      (10L, 11L),                              // isolated pair
      (20L, 21L), (22L, 21L), (22L, 23L))      // zigzag component
    assert(got == Map(3L -> 3L, 5L -> 3L, 7L -> 3L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("connected components: empty pair set yields empty labeling") {
    assert(cc() == Map.empty[Long, Long])
  }

  test("connected components match a union-find reference on a dense random graph") {
    // Deterministic pseudo-random graph: 60 nodes, ~90 edges.
    val edges = (0 until 90).map { i =>
      val a = (i * 37 + 11) % 60; val b = (i * 53 + 29) % 60
      (a.toLong, b.toLong)
    }.filter(e => e._1 != e._2)
    val parent = scala.collection.mutable.Map((0L until 60L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
    assert(cc(edges: _*) == expected)
  }

  test("canonicalByQuality: best-score member keeps; score ties fall back to doc_id") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L))
      .toDF("doc_id", "cluster_id")
    val scores = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5), (4L, 0.5), (5L, 0.1))
      .toDF("doc_id", "score")
    val got = Dedup.canonicalByQuality(labels, scores)
      .select(col("doc_id"), col("keep")).as[(Long, Int)].collect().toMap
    // cluster 1: doc 2 outscores doc 1 — the min id does NOT survive
    assert(got(1L) == 0 && got(2L) == 1)
    // cluster 3: tie at 0.5 → lower doc_id keeps
    assert(got(3L) == 1 && got(4L) == 0)
    // singleton keeps itself
    assert(got(5L) == 1)
    // a labeled doc with no score row fails loudly — it would otherwise
    // silently change which member of its cluster survives
    val err = intercept[Exception] {
      Dedup.canonicalByQuality(labels, scores.where(col("doc_id") =!= 2L))
        .collect()
    }
    assert(err.getMessage.contains("no score row"), err.getMessage)
  }

  test("exactNearDupTruth: complete hand-computed J >= t pair set; LSH found is a subset") {
    // 3-gram shingles: doc 1 {abc,bcd,cde}, doc 2 {abc,bcd,cdX} → J = 2/4;
    // doc 3 shares nothing; doc 4 = doc 1 verbatim → J = 1 with 1 and 2/4 with 2
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d x"), (3L, "p q r s t"),
      (4L, "a b c d e")).toDF("doc_id", "text")
    val truth = Dedup.exactNearDupTruth(docs, 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(truth == Map(
      (1L, 2L) -> 0.5, (1L, 4L) -> 1.0, (2L, 4L) -> 0.5), s"got $truth")
    // below-threshold pairs are excluded, not missing: at t = 0.4 nothing new
    assert(Dedup.exactNearDupTruth(docs, 0.4).count() == 3)
    // the banded chain can only ever MISS truth pairs, never invent them
    val found = Dedup.nearDupScores(docs).where(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    assert(found.subsetOf(truth.keySet), s"found $found beyond truth")
  }

  test("CrossIndexSession: fused scoring == unfused pair per batch, across a cap crossing; appended rows == writeIndexSide's") {
    // small cap so the boilerplate family T crosses it ACROSS increments:
    // seed holds 2 copies (under cap), batch 1 pushes the stored union to
    // 4 (> 3) — batch 2's probe must see T's corpus-side buckets DROPPED,
    // exactly as crossNearDupIndexed's read-time capBuckets drops them.
    // Around it: texts shorter than n tokens, empty texts, repeated
    // shingles and an exact-duplicate pair inside a batch.
    val T = "the quick brown fox jumps over the lazy dog again and again"
    val R = "red green blue red green blue red green"
    val seed = docs(1L -> T, 2L -> T,
      10L -> "alpha beta gamma delta epsilon zeta", 11L -> "one two three four five six",
      12L -> "tiny doc", 13L -> "", 14L -> "la la la la la la la")
    val b1 = docs(101L -> T, 102L -> T,
      110L -> "alpha beta gamma delta epsilon eta",
      111L -> "tiny doc", 112L -> "", 113L -> "la la la la la",
      114L -> R, 115L -> R)
    val b2 = docs(201L -> T, 202L -> T,
      210L -> "seven eight nine ten eleven twelve",
      211L -> s"$R red", 212L -> "")
    val st = java.nio.file.Files.createTempDirectory("graft-cisession")
    val dir = s"$st/index"
    Dedup.buildCrossNearDupIndex(seed, dir, maxBucket = 3)
    // every append rebases the standing cache (the loop specs cover the
    // default union-extended path), so batch 2 probes a rebased cache and
    // the replayed append rebases a second time
    val session = new Dedup.CrossIndexSession(spark, dir, cacheRebaseEvery = 1)
    val t = 0.5
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      // unfused expectation BEFORE the append (same standing state the
      // session cache reflects)
      val wantCross = Dedup.crossNearDupIndexed(spark, dir, b, t)
        .select(col("batch_id").as("doc_a"), col("corpus_id").as("doc_b"))
        .as[(Long, Long)].collect().toSet
      val wantWithin = Dedup.nearDupScores(b).where(col("jaccard") >= t)
        .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
      val score = session.scoreBatch(b, t)
      val got = score.edges.as[(Long, Long)].collect().toSet
      assert(got == (wantCross ++ wantWithin),
        s"batch $i: fused $got != unfused ${wantCross ++ wantWithin}")
      if (i == 0) {
        assert(wantCross.exists(_._2 == 1L),
          "batch 1 must still match the under-cap T family")
        assert(Set((111L, 12L), (112L, 13L), (113L, 14L), (114L, 115L))
          .subsetOf(got), s"short/empty/repeated/in-batch pairs missing: $got")
        // a replayed append: the same rows land twice in the index and in
        // the session's standing cache
        session.append(score)
      } else {
        assert(!wantCross.exists(p => Set(1L, 2L, 101L, 102L).contains(p._2)),
          "batch 2's T probes must be blocked by the grown-cap boundary")
        assert(Set((211L, 114L), (212L, 13L), (212L, 112L)).subsetOf(got),
          s"batch 2 must match batch 1's appended docs: $got")
      }
      session.append(score)
    }
    session.close()
    // the session's appends left EXACTLY writeIndexSide's per-doc rows
    val all = seed.unionAll(b1).unionAll(b2)
    val wantDir = s"$st/want"
    Dedup.buildCrossNearDupIndex(all, wantDir, maxBucket = 3)
    def rows(d: String, name: String, cols: Seq[String]) =
      spark.read.parquet(s"$d/$name").select(cols.map(col): _*)
        .distinct().collect().map(_.toSeq).toSet
    assert(rows(dir, "shingle_keys", Seq("doc_id", "sk")) ==
      rows(wantDir, "shingle_keys", Seq("doc_id", "sk")))
    assert(rows(dir, "buckets", Seq("doc_id", "band", "sig")) ==
      rows(wantDir, "buckets", Seq("doc_id", "band", "sig")))
  }

  test("one overlap kernel: every near-dup consumer keeps the per-shingle join's rows " +
      "(zero-overlap pairs, a mega-group, a replayed append)") {
    // Expected rows were captured from the per-shingle self-join scorers
    // (pairOverlapStats' inter/sizes/left-join spine, the side-tagged
    // cross scorer and the in-batch key-set scorer) on this fixture.
    val T = "the quick brown fox jumps over the lazy dog"
    val B = "boiler plate text body here" // 4 copies: over the cap of 3
    val fx = docs(1L -> T, 2L -> s"$T today", 3L -> "the quick brown fox jumps",
      11L -> T, 4L -> "alpha beta gamma delta epsilon zeta eta",
      5L -> "alpha beta gamma delta epsilon zeta theta",
      6L -> B, 7L -> B, 8L -> B, 9L -> B, 10L -> "p q r", 12L -> "tiny",
      13L -> "la la la la la la")
    val batch = docs(101L -> s"$T extra", 102L -> "alpha beta gamma delta epsilon zeta",
      103L -> B, 104L -> "unrelated words entirely here now", 105L -> s"$T extra",
      106L -> "p q r")
    // (1,4), (10,12) and (13,1) share no shingle: they must score 0.0
    val pairs = Seq((1L, 2L), (1L, 3L), (3L, 2L), (4L, 5L), (1L, 4L), (10L, 12L),
      (6L, 7L), (13L, 1L)).toDF("doc_a", "doc_b")
    val sh = Dedup.shingles(fx)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    assert(rows(Dedup.pairOverlapStats(sh, pairs)) == Set[Seq[Any]](
      Seq(10L, 12L, 0L, 1L, 1L), Seq(13L, 1L, 0L, 1L, 7L), Seq(1L, 2L, 7L, 7L, 8L),
      Seq(1L, 3L, 3L, 7L, 3L), Seq(1L, 4L, 0L, 7L, 5L), Seq(3L, 2L, 3L, 3L, 8L),
      Seq(4L, 5L, 4L, 5L, 5L), Seq(6L, 7L, 3L, 3L, 3L)))
    assert(rows(Dedup.ngramJaccardFromShingles(sh, pairs)) == Set[Seq[Any]](
      Seq(10L, 12L, 0.0), Seq(13L, 1L, 0.0), Seq(1L, 2L, 0.875), Seq(1L, 3L, 0.428571),
      Seq(1L, 4L, 0.0), Seq(3L, 2L, 0.375), Seq(4L, 5L, 0.666667), Seq(6L, 7L, 1.0)))
    assert(rows(Dedup.containmentFromShingles(sh, pairs)) == Set[Seq[Any]](
      Seq(10L, 12L, 0.0, 0.0), Seq(13L, 1L, 0.0, 0.0), Seq(1L, 2L, 1.0, 0.875),
      Seq(1L, 3L, 0.428571, 1.0), Seq(1L, 4L, 0.0, 0.0), Seq(3L, 2L, 1.0, 0.375),
      Seq(4L, 5L, 0.8, 0.8), Seq(6L, 7L, 1.0, 1.0)))
    val nearDup = Set[Seq[Any]](Seq(1L, 11L, 1.0), Seq(1L, 2L, 0.875),
      Seq(1L, 3L, 0.428571), Seq(2L, 11L, 0.875), Seq(2L, 3L, 0.375),
      Seq(3L, 11L, 0.428571), Seq(4L, 5L, 0.666667))
    assert(rows(Dedup.nearDupScores(fx, maxBucket = 3)) == nearDup)
    val cont = Set[Seq[Any]](Seq(1L, 11L, 1.0, 1.0), Seq(1L, 2L, 1.0, 0.875),
      Seq(1L, 3L, 0.428571, 1.0), Seq(2L, 11L, 0.875, 1.0), Seq(2L, 3L, 0.375, 1.0),
      Seq(3L, 11L, 1.0, 0.428571), Seq(4L, 5L, 0.8, 0.8))
    assert(rows(Dedup.containmentDedup(fx, maxBucket = 3)) == cont)
    assert(rows(Dedup.containmentDedupGated(fx, minCont = 0.5, minAgree = 4,
      maxBucket = 3)) == cont)
    assert(rows(Dedup.clusterDedupFirst(fx, Some(0.5), maxBucket = 3)) == Set[Seq[Any]](
      Seq(11L, 1L), Seq(1L, 1L), Seq(2L, 1L), Seq(4L, 4L), Seq(5L, 4L)))
    // truth has no cap: the 4-copy group pairs in full
    assert(rows(Dedup.exactNearDupTruth(fx, 0.3)) == nearDup ++ Set[Seq[Any]](
      Seq(6L, 7L, 1.0), Seq(6L, 8L, 1.0), Seq(6L, 9L, 1.0), Seq(7L, 8L, 1.0),
      Seq(7L, 9L, 1.0), Seq(8L, 9L, 1.0)))
    val cross = Set[Seq[Any]](Seq(101L, 11L, 0.875), Seq(101L, 1L, 0.875),
      Seq(101L, 2L, 0.777778), Seq(102L, 4L, 0.8), Seq(102L, 5L, 0.8),
      Seq(105L, 11L, 0.875), Seq(105L, 1L, 0.875), Seq(105L, 2L, 0.777778),
      Seq(106L, 10L, 1.0))
    assert(rows(Dedup.crossNearDup(fx, batch, threshold = 0.1, maxBucket = 3)) == cross)
    // a replayed append doubles every stored row; probes must not notice
    val dir = java.nio.file.Files.createTempDirectory("graft-kernel").toString
    Dedup.buildCrossNearDupIndex(fx, dir, maxBucket = 3)
    Dedup.appendToCrossNearDupIndex(fx, dir)
    assert(rows(Dedup.crossNearDupIndexed(spark, dir, batch, threshold = 0.1)) == cross)
    val session = Dedup.openCrossIndexSession(spark, dir)
    val score = session.scoreBatch(batch, 0.1)
    assert(rows(score.edges) == cross.map(_.take(2)) + Seq(101L, 105L))
    session.append(score)
    session.append(score)
    session.close()
    assert(spark.read.parquet(s"$dir/shingle_keys").distinct().count() == 77)
    assert(spark.read.parquet(s"$dir/buckets").distinct().count() == 76)
  }
}

/** Spec-side references for the native `winnow_fps` expression behind
  * `Dedup.winnowedFingerprints`: the two SQL formulations it replaced,
  * kept as differential-testing arms. */
object DedupSpec {
  import org.apache.spark.sql.DataFrame

  /** The original SQL formulation of `winnowedFingerprints` — the A/B arm
    * that measured WHY the native expression exists (EXPLAIN.md "Round 10:
    * book-length winnowing was QUADRATIC"): `substring(text, i, k)`
    * re-walks the string's bytes from position 0 per call, so this form is
    * O(len²) per doc — 1.7 s at 5 KB docs → 120 s at 50 KB on the same 500
    * docs. Correct, and quadratic. */
  def winnowedFingerprintsSql(docs: DataFrame, k: Int = 32, w: Int = 16): DataFrame =
    docs
      .select(col("doc_id"), expr(
        s"""transform(sequence(1, greatest(1, length(text) - ${k - 1})),
           |  i -> cast(conv(substring(md5(substring(text, i, $k)), 1, 15), 16, 10) as bigint))"""
          .stripMargin).as("hs"))
      .select(col("doc_id"), explode(expr(
        s"""array_distinct(transform(sequence(1, greatest(1, size(hs) - ${w - 1})),
           |  j -> array_min(slice(hs, j, $w))))""".stripMargin)).as("fp"))

  /** `winnowedFingerprints` re-expressed as explode + sliding window-min —
    * SAME contract and identical output set: one row per char-`k`-gram
    * via `explode(sequence(...))` so the md5 chain runs in a
    * whole-stage-codegen'd projection, then the `w`-window minimum as a
    * `rowsBetween(0, w-1)` window aggregate and a per-doc dedup. Built as
    * the A/B arm testing whether the nested form's cost was
    * HOF interpretation; the measurement said NO — this form is exactly as
    * quadratic (32 s at 25 KB docs, same as nested), because the cliff is
    * `substring(text, i, k)`'s per-call byte-walk, which both share. */
  def winnowedFingerprintsExploded(docs: DataFrame, k: Int = 32, w: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = docs
      .select(col("doc_id"),
        greatest(lit(1), length(col("text")) - (k - 1)).as("n"), col("text"))
      .select(col("doc_id"), col("n"), col("text"),
        explode(expr("sequence(1, n)")).as("i"))
      .select(col("doc_id"), col("n"), col("i"),
        expr(s"cast(conv(substring(md5(substring(text, i, $k)), 1, 15), 16, 10) as bigint)")
          .as("h"))
    val wmin = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .select(col("doc_id"), col("n"), col("i"), min(col("h")).over(wmin).as("fp"))
      .where(col("i") <= greatest(lit(1), col("n") - (w - 1)))
      .select(col("doc_id"), col("fp")).dropDuplicates("doc_id", "fp")
  }
}
