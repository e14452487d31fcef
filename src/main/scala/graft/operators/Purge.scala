package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deletion/takedown lifecycle for the engine's persisted artifacts — the
  * one lifecycle verb the index families (all append-only grown) lacked:
  * given a doc-id set, remove it from the persisted state so probes behave
  * exactly as if the index had been built without those docs. Legally
  * mandatory for any real training corpus (PII purge / takedown); at
  * 100 TB "rebuild without the docs" is not an option, so every family
  * gets a surgical path:
  *
  *   - BM25 postings + versioned df/stats   → [[graft.operators.Retrieval.purgeFromBm25Index]]
  *     (logical: version roll + purged-id table; physical: compaction)
  *   - IVF / PQ / IVF-PQ / dHash partitions → anti-join rewrite of the
  *     TOUCHED cell/ingest partitions only, via [[rewritePartitions]]
  *   - drift histograms                     → count-subtractive delta
  *     partitions (histograms are additive; see Curation)
  *   - standing near-dup labelings          → [[purgeFromClusters]]
  *     (re-solve touched components only)
  *
  * This module owns the SHARED two-phase partition-rewrite commit every
  * physical purge uses, modeled on `Layout.compactKeyed`'s
  * `_graft_subsumed` mini-commit: stage the replacement partitions under
  * an underscore dir (invisible to partition discovery), write a commit
  * marker listing exactly the partitions to swap/drop (atomic tmp→rename),
  * then roll forward. A crash before the marker discards the stage (the
  * live layout was never touched); after it, [[repairPartitionRewrite]]
  * rolls forward idempotently. OWNER-ONLY, like compaction: run purges
  * from the single writer that owns the index — probes racing the swap
  * window can transiently miss a partition (the documented compactKeyed
  * reader race; a transactional table format is what buys a truly atomic
  * multi-partition swap, and this marker protocol maps 1:1 onto one).
  */
object Purge {

  private val StageDirName = "_graft_purging"
  private val MarkerName = "_graft_purge"

  /** Compaction SCHEDULING SIGNAL (r17): the append-partition families
    * all carry a compaction verb, but nothing reported WHEN to run it —
    * a 10⁴-batch deployment needs the trigger, not just the fold. One
    * row per partitioned index root, all METADATA-scale: partition
    * names from one listing, file counts/bytes from file statuses, row
    * counts from parquet row-group metadata in ONE Spark job over the
    * whole root (empty projected schema + the partition dir as a
    * discovered column — never a per-partition count() loop from the
    * driver, which serialized 10⁴ job submissions at the deployment
    * scale this signal exists to serve). Pure observer: never
    * repairs, never rewrites; underscore-prefixed stage dirs from an
    * in-flight rewrite are invisible to the prefix filter, so a crashed
    * fold reads as its committed state.
    *
    * Columns: deterministic (`n_partitions`, `n_delta_partitions`,
    * `n_rows_seed`, `n_rows_delta`, `compact_due` = delta count ≥
    * `compactAfter`) + environmental (`n_files`, `bytes`,
    * `smallest_file_ratio` = smallest/largest file bytes — the
    * tiny-file symptom itself). Oracle rows project the deterministic
    * columns and recompute them from the raw corpus slices; the
    * environmental ones are operational readouts (byte sizes are not
    * engine-portable). */
  def indexHealth(spark: SparkSession, family: String, root: String,
      partitionPrefix: String, compactAfter: Int = 8): DataFrame = {
    val rp = new org.apache.hadoop.fs.Path(root)
    val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(rp), s"indexHealth: no such index root $root")
    val seedName = s"${partitionPrefix}-1"
    val parts = fs.listStatus(rp).toSeq.filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith(partitionPrefix))
    require(parts.nonEmpty,
      s"indexHealth: $root has no $partitionPrefix* partitions — wrong " +
        "root or wrong prefix (fail loudly, never report an empty index " +
        "as healthy)")
    // file counts/bytes from the SAME listing pass — fs metadata, no jobs
    val allFiles = parts.flatMap(p => fs.listStatus(p).toSeq
      .filter(f => f.getPath.getName.endsWith(".parquet")).map(_.getLen))
    val ratio =
      if (allFiles.isEmpty || allFiles.max == 0L) 1.0
      else allFiles.min.toDouble / allFiles.max
    // Row counts in ONE job over the whole root: the partition directory
    // is a discovered COLUMN, the projected data schema is EMPTY, so the
    // scan serves counts from parquet row-group metadata — footer-only,
    // like the per-partition count()s it replaces, but 10⁴ partitions
    // cost one job submission instead of 10⁴ sequential ones (the r17
    // driver-loop flag; HealthProbe measures jobs vs partitions).
    val partCol = partitionPrefix.stripSuffix("=")
    // The partition column is read through a USER-GIVEN schema that
    // declares it a string: Spark then takes the raw directory suffix
    // without type inference, so the reconstruction s"$prefix${value}"
    // round-trips the DIRECTORY name exactly — an inferred type that
    // reformats the value (leading zeros, non-numeric shapes) would
    // silently map to no directory and report 0 rows instead of failing
    // (r18 ADVICE). No session conf is touched: Verify runs several
    // dumps on one shared session, and a conf bracket here raced them.
    // The loud check below guarantees every counted key maps back to a
    // listed partition.
    val counted: Map[String, Long] =
      if (allFiles.isEmpty) Map.empty
      else spark.read.schema(s"`$partCol` STRING").parquet(root)
        .groupBy(col(partCol)).agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (s"$partitionPrefix${r.getString(0)}", r.getLong(1))).toMap
    val nameSet = parts.map(_.getName).toSet
    counted.keys.foreach(k => require(nameSet.contains(k),
      s"indexHealth: counted partition value '$k' matches no listed " +
        s"directory under $root — name/value round-trip broke (never " +
        "silently report 0 rows)"))
    def rowsOf(name: String): Long = counted.getOrElse(name, 0L)
    val names = parts.map(_.getName)
    val nDelta = names.count(_ != seedName).toLong
    import spark.implicits._
    Seq((family,
      names.size.toLong,
      nDelta,
      names.filter(_ == seedName).map(rowsOf).sum,
      names.filter(_ != seedName).map(rowsOf).sum,
      if (nDelta >= compactAfter) 1 else 0,
      allFiles.size.toLong,
      allFiles.sum,
      math.rint(ratio * 1e6) / 1e6))
      .toDF("family", "n_partitions", "n_delta_partitions", "n_rows_seed",
        "n_rows_delta", "compact_due", "n_files", "bytes",
        "smallest_file_ratio")
  }

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def writeTextAtomic(fs: org.apache.hadoop.fs.FileSystem,
      path: String, content: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    require(fs.rename(tmp, new org.apache.hadoop.fs.Path(path)),
      s"commit-marker rename failed at $path — purge not committed")
  }

  private def readText(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Two-phase rewrite of keyed partitions under `rootDir`: each
    * `(partitionDirName, replacement)` either SWAPs in the staged
    * replacement (`Some(df)`) or DROPs the live partition (`None` — the
    * purge emptied it). `writeStage` writes one replacement to its staged
    * path (override to keep a family's sort/partitioning discipline, e.g.
    * BM25's term-range sort).
    *
    * Commit protocol (crash-safe at every point):
    *   1. stage every `Some` replacement under `rootDir/_graft_purging/<p>`
    *   2. atomic marker `rootDir/_graft_purge` with one `SWAP p` / `DROP p`
    *      line per partition — THE commit point
    *   3. roll forward: per line, delete the live partition, rename the
    *      staged one in (SWAP) or leave it deleted (DROP)
    *   4. delete marker, then the stage root
    * Before the marker a crash leaves the live layout untouched (repair
    * discards the stage); after it repair re-runs step 3, which is
    * idempotent per partition (a missing staged dir means that partition
    * already swapped). Cost: one write + two renames per TOUCHED
    * partition — untouched partitions are never read or listed here. */
  def rewritePartitions(spark: SparkSession, rootDir: String,
      replacements: Seq[(String, Option[DataFrame])],
      writeStage: (DataFrame, String) => Unit =
        (df, path) => df.write.mode("overwrite").parquet(path)): Unit = {
    require(replacements.nonEmpty, "rewritePartitions: nothing to rewrite")
    require(replacements.forall(r => !r._1.contains("/") && !r._1.startsWith("_")),
      s"partition names must be plain child dirs: ${replacements.map(_._1)}")
    val (fs, root) = fsOf(spark, rootDir)
    repairPartitionRewrite(spark, rootDir) // finish/discard any prior attempt
    replacements.foreach {
      case (p, Some(df)) => writeStage(df, s"$rootDir/$StageDirName/$p")
      case (_, None) => ()
    }
    val lines = replacements.map {
      case (p, Some(_)) => s"SWAP $p"
      case (p, None) => s"DROP $p"
    }
    writeTextAtomic(fs, s"$rootDir/$MarkerName", lines.mkString("\n"))
    rollForward(fs, root, rootDir, lines)
  }

  private def rollForward(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, rootDir: String,
      lines: Seq[String]): Unit = {
    lines.foreach { line =>
      val Array(op, p) = line.split(" ", 2)
      val live = new org.apache.hadoop.fs.Path(root, p)
      val staged = new org.apache.hadoop.fs.Path(s"$rootDir/$StageDirName/$p")
      op match {
        case "SWAP" =>
          // idempotent: staged absent ⇒ this partition already swapped in
          if (fs.exists(staged)) {
            fs.delete(live, true)
            require(fs.rename(staged, live),
              s"purge roll-forward: rename $staged -> $live failed")
          }
        case "DROP" => fs.delete(live, true); ()
        case other => throw new IllegalStateException(
          s"corrupt purge marker line '$line' under $rootDir ($other)")
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(rootDir, MarkerName), false)
    fs.delete(new org.apache.hadoop.fs.Path(rootDir, StageDirName), true)
    ()
  }

  /** Recover `rootDir` from a [[rewritePartitions]] interrupted at ANY
    * point: an uncommitted crash (stage present, no marker) is rolled
    * BACK — the stage is discarded, the live layout was never modified;
    * a committed crash (marker present) is rolled FORWARD — remaining
    * swaps/drops finish, then marker and stage clear. Idempotent; a
    * no-op on a healthy layout. Runs automatically at the start of every
    * [[rewritePartitions]] (the repairKeyed discipline); owner-only. */
  def repairPartitionRewrite(spark: SparkSession, rootDir: String): Unit = {
    val (fs, root) = fsOf(spark, rootDir)
    if (!fs.exists(root)) return
    val marker = new org.apache.hadoop.fs.Path(root, MarkerName)
    if (fs.exists(marker)) {
      val lines = readText(fs, marker).split("\n").toSeq.filter(_.nonEmpty)
      rollForward(fs, root, rootDir, lines)
    } else {
      // uncommitted: a half-written stage, or a marker that never finished
      // its atomic tmp→final rename — discard both
      fs.delete(new org.apache.hadoop.fs.Path(rootDir, s"$MarkerName.tmp"), false)
      fs.delete(new org.apache.hadoop.fs.Path(rootDir, StageDirName), true)
      ()
    }
  }

  /** Anti-join rewrite of a value-partitioned index table (`root/<partCol>=
    * <v>/…` dirs of rows carrying `idCol`): one narrow id-column scan of
    * the table finds the TOUCHED partitions, each is rewritten minus the
    * purged ids under [[rewritePartitions]]'s two-phase commit, and
    * untouched partitions are never read or listed. A partition the purge
    * empties is DROPped. Ids absent from the table are a no-op — a
    * takedown list may cite docs the index never held (or already shed),
    * and "build without the docs" is the invariant either way. The shared
    * body behind the IVF/IVF-PQ cell purges and the dHash ingest purge. */
  def purgePartitionedIndex(spark: SparkSession, root: String,
      partCol: String, idCol: String, ids: DataFrame): Unit = {
    import spark.implicits._
    val idSet = broadcast(ids.select(col(idCol)).distinct())
    val touched = spark.read.parquet(root)
      .join(idSet, Seq(idCol), "left_semi")
      .select(col(partCol).cast("long")).distinct()
      .as[Long].collect().sorted
    if (touched.isEmpty) return // nothing indexed under these ids
    rewritePartitionsStageFirst(spark, root, touched.toSeq.map { c =>
      s"$partCol=$c" -> spark.read.parquet(s"$root/$partCol=$c")
        .join(idSet, Seq(idCol), "left_anti")
    })
  }

  /** [[rewritePartitions]] with the SWAP/DROP decision taken from the
    * STAGED result instead of the input plan: each replacement plan is
    * written straight to its stage path (the stage dir is
    * underscore-hidden, so a live-reading plan is safe — nothing live is
    * deleted until roll-forward), then a partition whose staged rewrite
    * came out EMPTY is DROPped and its stage discarded. One
    * materialization per touched partition — the prior shape
    * (localCheckpoint to break the read-what-you-delete race, then a
    * staged write, then an isEmpty action) paid ~2× on a huge touched
    * cell and pinned it in executor memory besides. The emptiness probe
    * reads the staged parquet footers, not the data. */
  def rewritePartitionsStageFirst(spark: SparkSession, rootDir: String,
      replacements: Seq[(String, DataFrame)],
      writeStage: (DataFrame, String) => Unit =
        (df, path) => df.write.mode("overwrite").parquet(path)): Unit = {
    require(replacements.nonEmpty, "rewritePartitions: nothing to rewrite")
    require(replacements.forall(r => !r._1.contains("/") && !r._1.startsWith("_")),
      s"partition names must be plain child dirs: ${replacements.map(_._1)}")
    val (fs, root) = fsOf(spark, rootDir)
    repairPartitionRewrite(spark, rootDir) // finish/discard any prior attempt
    val lines = replacements.map { case (p, df) =>
      val stagedPath = s"$rootDir/$StageDirName/$p"
      writeStage(df, stagedPath)
      val empty = spark.read.parquet(stagedPath).isEmpty
      if (empty) {
        fs.delete(new org.apache.hadoop.fs.Path(stagedPath), true)
        s"DROP $p"
      } else s"SWAP $p"
    }
    writeTextAtomic(fs, s"$rootDir/$MarkerName", lines.mkString("\n"))
    rollForward(fs, root, rootDir, lines)
  }

  /** Remove a doc set from a standing near-dup LABELING — the artifact
    * [[Dedup.connectedComponents]] / [[Dedup.incrementalClusters]]
    * maintain. Removing a doc can SPLIT its component (the doc may be the
    * only bridge between two near-dup groups), which the labels alone
    * cannot decide — so the purge re-solves the TOUCHED components from
    * the standing PAIR evidence (`pairs(doc_a, doc_b)`, the same table
    * the labeling was built from) minus all pairs incident to a purged
    * doc, and passes every untouched label through unchanged. Result
    * equals `connectedComponents(pairs minus incident)` restricted to
    * surviving pair-bearing docs (oracle-asserted from scratch in SQL).
    *
    * Scale: the [[Dedup.incrementalClusters]] shape in reverse — two
    * semi/anti joins against the (small) affected-component list, CC over
    * the touched components' ORIGINAL pairs only; the labels and pairs
    * tables are never shuffled whole, and cold components are never
    * read. A doc whose component loses all pair evidence drops from the
    * labeling entirely (labelings hold pair-bearing docs only — the
    * clusterDedupFirst convention). */
  def purgeFromClusters(labels: DataFrame, pairs: DataFrame,
      purgedIds: DataFrame): DataFrame = {
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val l = labels.select(col("doc_id"), col("cluster_id")).persist(sl)
    val ids = purgedIds.select(col("doc_id")).distinct()
    val affected = l.join(ids, Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct()
    // touched components re-solve from their ORIGINAL pair evidence (not
    // star edges — stars hide whether a purged doc was a cut vertex),
    // with purged-incident pairs removed on BOTH endpoints
    val touchedDocs = l.join(affected, Seq("cluster_id"), "left_semi")
      .select(col("doc_id"))
    val touchedPairs = pairs
      .join(touchedDocs.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
      .join(ids.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_anti")
      .join(ids.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_anti")
    val solved = Dedup.connectedComponents(
      touchedPairs.select(col("doc_a"), col("doc_b")))
    val untouched = l.join(affected, Seq("cluster_id"), "left_anti")
    val out = solved.unionAll(untouched.select(col("doc_id"), col("cluster_id")))
    val materialized = out.localCheckpoint(true)
    l.unpersist(false)
    materialized
  }
}
