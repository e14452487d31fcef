package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional data LAYOUT: Z-order (Morton-curve) clustering of a
  * table's files so that min/max footer stats prune MULTI-column box
  * predicates, not just the single leading sort column.
  *
  * This is the 100 TB lever the rest of the engine's scan-side pruning
  * stands on: a linear sort gives perfect file skipping on its leading
  * column and none on any other, while a Z-order interleaves the bits of
  * k column ranks so every file covers a small k-dimensional box of the
  * key space — a reader consulting per-file (min, max) ranges skips most
  * files for a selective predicate on ANY of the k columns (the pattern
  * behind Delta Lake `OPTIMIZE ZORDER BY` and Iceberg's sort-order
  * rewrites; Morton 1966). No reference precedent
  * (`Preprocessing/src/main/java` reads its inputs as given) — this is
  * LLM-pipeline surface: at 100 TB you re-cluster hot tables once and
  * every later scan pays less.
  *
  * Plan shape (the whole point): ONE metadata-scale min/max aggregate to
  * fix the per-column scaling, then a single codegen'd projection
  * computing the Z-value, one quantile pass for the file bounds, ONE
  * shuffle routing each row to its file and a local sort per output file.
  * No window over the whole table, no global sort bottleneck, no driver
  * data beyond the `files - 1` bounds.
  */
object Layout {

  /** Morton/Z value: bit-interleave the low `bits` bits of the given
    * non-negative integer ranks (rank i contributes bit b to output bit
    * `b*n + i`). `ranks.size * bits` must fit a signed long. A null rank
    * (null input value) interleaves as 0 — deterministic, sorts first. */
  def zValue(ranks: Seq[Column], bits: Int): Column = {
    require(ranks.nonEmpty, "zValue needs at least one column")
    require(ranks.size * bits <= 63, s"${ranks.size} cols x $bits bits > 63")
    val n = ranks.size
    val terms = for {
      b <- 0 until bits
      (r, i) <- ranks.zipWithIndex
    } yield shiftleft(shiftright(coalesce(r, lit(0L)), b).bitwiseAND(lit(1L)),
      b * n + i)
    terms.reduce(_ bitwiseOR _)
  }

  /** The two supported space-filling curves. Morton (`Zorder`) is the
    * bit-interleave above — cheapest, k-dimensional; `Hilbert` (2-D, via
    * the native `hilbert_d` expression) additionally guarantees
    * consecutive curve cells are grid NEIGHBORS, so each file's box has
    * no diagonal-jump slack — the default in modern clustered layouts. */
  val Zorder = "zorder"
  val Hilbert = "hilbert"

  /** Meta tag for [[binnedLinearWrite]]'s single-column layout. NOT a
    * space-filling curve: the fid is the leading column's rank truncated,
    * so a reader reconstructing assignment must not interleave. Kept out
    * of [[curveValue]] on purpose — any curve-path consumer (append,
    * compaction) handed a linear-bin layout fails loudly on the tag
    * instead of silently mis-deriving bins. */
  val LinearBin = "linear-bin"

  private def curveValue(ranks: Seq[Column], bits: Int, curve: String): Column =
    curve match {
      case Zorder =>
        // the native interleave: one codegen'd call vs bits×k chained
        // shift/or Column nodes; zValue remains the reference semantics.
        // morton_d itself ranks nulls at the origin — no coalesce needed
        call_function("morton_d", ranks :+ lit(bits): _*)
      case Hilbert =>
        require(ranks.size == 2, s"hilbert curve is 2-D, got ${ranks.size} cols")
        call_function("hilbert_d",
          coalesce(ranks.head, lit(0L)), coalesce(ranks(1), lit(0L)), lit(bits))
      case other => throw new IllegalArgumentException(
        s"unknown curve '$other' (expected $Zorder or $Hilbert)")
    }

  /** Scale a value into an unsigned `bits`-bit rank by linear min/max
    * normalization (the per-file box model only needs monotonicity, not
    * uniformity; rank ties just coarsen the curve). Degenerate dimensions
    * (min == max) rank constant 0. */
  private def scaledRank(c: Column, mn: Double, mx: Double, bits: Int): Column = {
    val top = (1L << bits) - 1
    val span = mx - mn
    if (!(span > 0) || span.isNaN) lit(0L)
    else least(lit(top), greatest(lit(0L),
      ((c.cast("double") - mn) / span * top).cast("long")))
  }

  /** Per-column (min, max) of `zcols` — ONE metadata-scale aggregate
    * (2·k values to the driver); all-null/empty dimensions degenerate to
    * (0, 0) = constant rank 0. */
  private def computeScaling(df: DataFrame, zcols: Seq[String])
      : Seq[(String, Double, Double)] = {
    require(zcols.nonEmpty, "zcols must be non-empty")
    // the persisted _graft_zmeta format is whitespace-delimited
    require(zcols.forall(c => !c.exists(_.isWhitespace)),
      s"z-order column names must not contain whitespace: $zcols")
    val aggs = zcols.flatMap(c =>
      Seq(min(numKey(df, c)).as(s"mn_$c"),
        max(numKey(df, c)).as(s"mx_$c")))
    val row = df.agg(aggs.head, aggs.drop(1): _*).head()
    zcols.zipWithIndex.map { case (c, i) =>
      if (row.isNullAt(2 * i)) (c, 0.0, 0.0)
      else (c, row.getDouble(2 * i), row.getDouble(2 * i + 1))
    }
  }

  /** Numeric curve key for a layout column. DATE columns convert to
    * days-since-epoch (Spark rejects `CAST(DATE AS DOUBLE)` at analysis
    * time); everything else casts to double directly (ints, floats,
    * timestamps). Strings have no meaningful linear order for a box
    * model — hash them to a numeric key first. */
  private def numKey(df: DataFrame, c: String): Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.DateType => unix_date(col(c)).cast("double")
      case _ => col(c).cast("double")
    }

  /** `df` plus a `_z` Z-value column over `zcols` (ints, floats and
    * timestamps cast to double; DATE columns are converted to
    * days-since-epoch internally; hash strings to a numeric key first).
    * Costs one metadata-scale min/max aggregate plus a codegen'd
    * projection. */
  def withZValue(df: DataFrame, zcols: Seq[String], bits: Int = 16): DataFrame = {
    val ranks = computeScaling(df, zcols)
      .map { case (c, mn, mx) => scaledRank(numKey(df, c), mn, mx, bits) }
    df.withColumn("_z", zValue(ranks, bits))
  }

  /** Rewrite `df` as `files` parquet files clustered along the Z-order
    * curve of `zcols`. Range-partitioning on the Z-value keeps files
    * curve-contiguous (each file = one curve segment = one small box per
    * dimension); the within-partition sort tightens row-group stats for
    * readers that prune below file granularity.
    *
    * The per-column scaling (min, max, bits) is persisted into the layout
    * (`_graft_zmeta`, underscore-prefixed so readers ignore it) so that
    * later [[appendZOrdered]] batches rank on the SAME curve — the
    * growth path: at 100 TB an arriving batch is curve-clustered and
    * appended, never a full re-cluster. */
  def zorderWrite(df: DataFrame, zcols: Seq[String], outDir: String,
      files: Int, bits: Int = 16, curve: String = Zorder): Unit = {
    val scaling = computeScaling(df, zcols)
    writeClustered(df, scaling, bits, curve, outDir, files, overwrite = true)
    writeMeta(outDir, scaling, bits, curve,
      df.sparkSession.sessionState.newHadoopConf())
  }

  /** Curve-cluster an ARRIVING batch with the layout's persisted scaling
    * and append its files — grown layout ≡ rebuilt layout for pruning
    * purposes (every file, old or new, is a small curve box on the same
    * curve; LayoutSpec proves the grown layout's boxes obey the same
    * arithmetic). Batch values outside the original min/max clamp to the
    * curve's edge cells — correct for pruning (edge files advertise the
    * true widened min/max in their own footers) but it coarsens edge
    * boxes under sustained drift; re-cluster when the clamped fraction
    * grows, exactly like an IVF index re-trains when centroids stale. */
  def appendZOrdered(df: DataFrame, outDir: String, files: Int): Unit = {
    val (scaling, bits, curve) =
      readMeta(outDir, df.sparkSession.sessionState.newHadoopConf())
    writeClustered(df, scaling, bits, curve, outDir, files, overwrite = false)
  }

  /** Seed a KEYED layout: the base corpus curve-clusters into the
    * `batch=0` partition, and the scaling persists INSIDE that partition
    * (`batch=0/_graft_zmeta`) so compaction later installs a new base and
    * its matching scaling in ONE rename — the curve and the data it ranks
    * can never be observed out of sync. A keyed layout holds every file
    * under `batch=<id>` partitions (partition discovery surfaces `batch`
    * as a column on read) — the streamed form of [[zorderWrite]], where
    * each micro-batch owns its partition and a REPLAY overwrites it:
    * exactly-once effective under at-least-once `foreachBatch` delivery,
    * with no transactional table format. */
  def initKeyedLayout(df: DataFrame, zcols: Seq[String], rootDir: String,
      files: Int, bits: Int = 16, curve: String = Zorder): Unit = {
    val scaling = computeScaling(df, zcols)
    writeClustered(df, scaling, bits, curve, s"$rootDir/batch=0", files,
      overwrite = true)
    writeMeta(s"$rootDir/batch=0", scaling, bits, curve,
      df.sparkSession.sessionState.newHadoopConf())
  }

  /** Curve-cluster a batch with the keyed layout's persisted scaling and
    * (over)write it as the `partition` sub-dir (e.g. "batch=7") —
    * idempotent per key, see [[initKeyedLayout]]. */
  def appendZOrderedKeyed(df: DataFrame, rootDir: String, partition: String,
      files: Int): Unit = {
    // self-heal first (no-op when healthy): a crash inside a committed
    // compaction's install window leaves no batch=0 until rolled forward,
    // and the streaming writer must not crash-loop on a repairable state.
    // COMMITTED markers only: an uncommitted _compacting stage seen from
    // the append path may be a LIVE compactor mid-build, and discarding it
    // would let that compactor commit a marker for a stage that no longer
    // exists (silent data loss once rollForward drops the listed
    // partitions with no installed base). Only the compaction owner
    // (compactKeyed / an explicit repairKeyed call) may discard a stage.
    healCommitted(rootDir, df.sparkSession.sessionState.newHadoopConf())
    val (scaling, bits, curve) = readMeta(s"$rootDir/batch=0",
      df.sparkSession.sessionState.newHadoopConf())
    writeClustered(df, scaling, bits, curve, s"$rootDir/$partition", files,
      overwrite = true)
  }

  /** PURGE rows from a KEYED layout by id — the takedown verb on the
    * DATA layout itself ([[graft.operators.Purge]] module overview): the
    * derived-index purges remove a doc from what POINTS at its bytes,
    * but the bytes live here, and a PII erasure is only done when the
    * clustered files no longer hold the rows. One narrow id-column scan
    * finds the touched `batch=<id>` partitions; each rewrites minus the
    * ids under the two-phase marker, RE-CLUSTERED on the layout's own
    * persisted scaling (`_graft_zmeta` — curve geometry unchanged, so
    * min/max file pruning keeps working; footer truth tightens, never
    * loosens, since surviving rows' ranks are unchanged). `batch=0`
    * always SWAPs — it carries the layout meta and must survive even
    * emptied; other emptied partitions DROP. Untouched partitions are
    * never read. Owner-only next to a live stream, like
    * [[compactKeyed]]; a later compaction re-derives fresh scaling as
    * usual. */
  def purgeFromKeyedLayout(spark: SparkSession, rootDir: String,
      idCol: String, ids: DataFrame, files: Int): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    healCommitted(rootDir, conf)
    val (scaling, bits, curve) = readMeta(s"$rootDir/batch=0", conf)
    val keys = broadcast(ids.select(col(idCol)).distinct().localCheckpoint(true))
    import spark.implicits._
    val touched = spark.read.parquet(rootDir)
      .join(keys, Seq(idCol), "left_semi")
      .select(col("batch").cast("long")).distinct()
      .as[Long].collect().sorted
    if (touched.isEmpty) return // nothing stored under these ids
    val replacements = touched.toSeq.map { bId =>
      val remaining = spark.read.parquet(s"$rootDir/batch=$bId")
        .join(keys, Seq(idCol), "left_anti")
      s"batch=$bId" ->
        (if (bId != 0L && remaining.isEmpty) None else Some(remaining))
    }
    graft.operators.Purge.rewritePartitions(spark, rootDir, replacements,
      writeStage = (df, path) => {
        writeClustered(df, scaling, bits, curve, path, files, overwrite = true)
        if (path.endsWith("/batch=0"))
          writeMeta(path, scaling, bits, curve, conf)
      })
  }

  /** Fold a keyed layout's accumulated micro-batch partitions back into
    * one freshly re-clustered base — the periodic compaction cadence
    * [[graft.streaming.Streams.layoutMaintainer]]'s scaladoc prescribes:
    * stream-appended `batch=<id>` partitions are correct but small and
    * rank on the SEED scaling, so sustained drift coarsens edge boxes
    * and partition count grows with stream lifetime. Compaction re-ranks
    * EVERYTHING with fresh min/max scaling (drift absorbed), rewrites
    * `batch=0`, and drops the per-batch partitions. The curve columns and
    * bit budget come from the layout's own persisted meta — a compaction
    * cannot silently re-shape the layout.
    *
    * Isolation on a plain filesystem: the new base (data + its matching
    * `_graft_zmeta`) builds complete under an underscore staging dir
    * (invisible to partition discovery), then swaps in by renames — old
    * base aside, staged base in, stale partitions dropped last. Readers
    * between the two base renames can miss the base partition (never the
    * whole layout, and never a base whose meta mismatches its data);
    * appends must not race the swap — run compaction from the single
    * writer that owns the stream.
    *
    * Crash safety is a two-phase mini-commit: the staged base (data,
    * then its `_graft_zmeta` — the meta write IS staging-complete) and
    * then a `_graft_subsumed` marker at the root listing EXACTLY the
    * `batch=N` partitions the staged base folded in. The marker is the
    * commit point: [[repairKeyed]] (also run at the start of every
    * compaction) rolls an uncommitted crash BACK (discard the stage;
    * the old layout was never touched) and a committed crash FORWARD
    * (finish the renames, drop exactly the listed partitions). The
    * explicit list is what makes recovery safe next to a live stream:
    * a partition appended AFTER the commit point is not in the list
    * and is never dropped. A transactional table format is what buys a
    * truly atomic swap; this marker protocol maps 1:1 onto one. */
  def compactKeyed(spark: SparkSession, rootDir: String, files: Int): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    repairKeyed(rootDir, conf) // complete or discard any interrupted prior swap
    val (oldScaling, bits, curve) = readMeta(s"$rootDir/batch=0", conf)
    val zcols = oldScaling.map(_._1)
    val fs = new org.apache.hadoop.fs.Path(rootDir).getFileSystem(conf)
    // Snapshot the partition set FIRST, then read exactly that set: the
    // staged base folds precisely these partitions, so the commit list
    // and the data are consistent by construction — a partition appended
    // at ANY later point (even mid-build) is neither folded nor dropped.
    val snapshot = fs.listStatus(new org.apache.hadoop.fs.Path(rootDir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName).sorted
    val all = spark.read
      .parquet(snapshot.map(n => s"$rootDir/$n").toIndexedSeq: _*)
      .drop("batch")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val scaling = computeScaling(all, zcols)
      writeClustered(all, scaling, bits, curve, s"$rootDir/_compacting", files,
        overwrite = true)
      writeMeta(s"$rootDir/_compacting", scaling, bits, curve, conf)
      val subsumed = snapshot
        .filter(_ != "batch=0") // the old base travels via _old_base, not the list
      // Last-moment stage check: if a concurrent repairKeyed (a violated
      // single-compactor rule) discarded the uncommitted stage, committing
      // the marker anyway would drop the listed partitions with no base to
      // install. The staged meta is written LAST, so its presence is the
      // staging-complete witness. Abort — the live layout is untouched.
      require(fs.exists(new org.apache.hadoop.fs.Path(
          s"$rootDir/_compacting/_graft_zmeta")),
        s"$rootDir/_compacting vanished before commit (concurrent repair?) " +
          "— aborting compaction without committing")
      // COMMIT POINT (atomic: temp write + rename): everything after this
      // is re-runnable roll-forward
      writeTextFile(fs, s"$rootDir/_graft_subsumed.tmp", subsumed.mkString("\n"))
      require(fs.rename(
          new org.apache.hadoop.fs.Path(s"$rootDir/_graft_subsumed.tmp"),
          new org.apache.hadoop.fs.Path(s"$rootDir/_graft_subsumed")),
        s"commit-marker rename failed under $rootDir — compaction not committed")
      rollForward(fs, rootDir, subsumed.toSeq)
    } finally { all.unpersist(false); () }
  }

  /** Recover a keyed layout from a compaction interrupted at ANY point:
    * before the `_graft_subsumed` commit marker the staged base is
    * discarded (the live layout was never modified); after it the swap
    * is rolled forward (renames finished, exactly the listed partitions
    * dropped, marker cleared). Idempotent; a no-op on a healthy layout.
    *
    * OWNER-ONLY: discarding an uncommitted stage is only safe when the
    * caller owns compaction (no compactor can be live), because the stage
    * it discards might otherwise be one being built right now. The append
    * path self-heals through [[healCommitted]] instead. */
  def repairKeyed(rootDir: String,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()): Unit = {
    val fs = new org.apache.hadoop.fs.Path(rootDir).getFileSystem(conf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(rootDir))) return
    if (!healCommitted(rootDir, conf)) { // also restores a stranded base
      // uncommitted staging (half-written stage, or a marker that never
      // finished its atomic temp→final rename): discard both — the live
      // layout was never modified before the commit point
      fs.delete(new org.apache.hadoop.fs.Path(rootDir, "_graft_subsumed.tmp"), false)
      fs.delete(new org.apache.hadoop.fs.Path(rootDir, "_compacting"), true)
      ()
    }
    // owner-only: crashed attempts leak their per-attempt park dirs
    // (stale pre-install bases); with the layout healthy again they are
    // dead weight. Safe ONLY here — no concurrent roll-forward can be
    // mid-park under the repair caller's no-live-compactor contract.
    sweepParkDirs(fs, rootDir)
  }

  /** The non-destructive half of [[repairKeyed]]: finish a COMMITTED
    * interrupted compaction (roll the swap forward), but never touch an
    * uncommitted stage — safe to run from any writer at any time, even
    * next to a live compactor. Two concurrent roll-forwards of the SAME
    * committed marker self-correct because each attempt parks the base
    * it displaces under its OWN uniquely-named `_old_base_*` dir and
    * deletes ONLY that dir: the racing loser (which may park the
    * already-installed NEW base, having passed a stale staged-exists
    * check) restores from its own park dir ([[rollForward]]'s recovery
    * branch), and no other actor's trailing cleanup can delete that park
    * dir out from under it — the lost-base interleaving a shared
    * `_old_base` name allowed. The stranded-base restore below repairs
    * any layout a crashed attempt left mid-recovery; park dirs leaked by
    * crashed attempts are swept by the compaction owner
    * ([[compactKeyed]]/[[repairKeyed]]), never concurrently. Returns
    * true when a committed marker was found (and rolled forward). */
  def healCommitted(rootDir: String,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(rootDir).getFileSystem(conf)
    restoreStrandedBase(fs, rootDir)
    val marker = new org.apache.hadoop.fs.Path(rootDir, "_graft_subsumed")
    if (!fs.exists(marker)) return false
    val listed = readTextFile(fs, marker).split("\n").filter(_.nonEmpty)
    rollForward(fs, rootDir, listed.toSeq)
    true
  }

  /** Every `_old_base*` park dir under the root, newest-named first.
    * Park names are `_old_base_<zero-padded-millis>_<uuid>` (the legacy
    * shared `_old_base` sorts last), so lexical order IS park order and
    * head-of-list is the most recently displaced base. */
  private def parkDirs(fs: org.apache.hadoop.fs.FileSystem,
      rootDir: String): Seq[org.apache.hadoop.fs.Path] =
    if (!fs.exists(new org.apache.hadoop.fs.Path(rootDir))) Seq.empty
    else fs.listStatus(new org.apache.hadoop.fs.Path(rootDir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_old_base"))
      .sortBy(_.getPath.getName)(Ordering[String].reverse)
      .map(_.getPath)

  /** Repair the one state no normal crash window produces but a crashed
    * roll-forward race can: no base, no stage, base data parked in an
    * `_old_base*` dir. Restoring the NEWEST park is always safe — a park
    * dir only ever holds a previously-installed base (the newest being
    * the most recently live one; older parks are stale bases from
    * earlier epochs, swept by the owner), and nothing else can claim the
    * empty `batch=0` slot while no stage exists. */
  private def restoreStrandedBase(fs: org.apache.hadoop.fs.FileSystem,
      rootDir: String): Unit = {
    val b0 = new org.apache.hadoop.fs.Path(s"$rootDir/batch=0")
    val staged = new org.apache.hadoop.fs.Path(s"$rootDir/_compacting")
    if (!fs.exists(b0) && !fs.exists(staged))
      parkDirs(fs, rootDir).headOption.foreach(park =>
        require(fs.rename(park, b0), s"restore $park -> $b0 failed"))
  }

  /** Sweep park dirs leaked by crashed roll-forward attempts. OWNER-ONLY
    * (called under [[compactKeyed]]/[[repairKeyed]]'s no-live-compactor
    * contract, after the layout is healthy): a concurrent sweep could
    * delete a park dir between a racing loser's park and restore — the
    * exact lost-base window per-attempt parking exists to close. */
  private def sweepParkDirs(fs: org.apache.hadoop.fs.FileSystem,
      rootDir: String): Unit =
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$rootDir/batch=0")))
      parkDirs(fs, rootDir).foreach(fs.delete(_, true))

  /** The committed half of the swap — every step idempotent, so a crash
    * anywhere inside re-runs cleanly from [[repairKeyed]]. Concurrent
    *-safe against another roll-forward of the SAME marker: the base this
    * attempt displaces is parked under a per-attempt unique dir that
    * only this attempt deletes or restores. */
  private def rollForward(fs: org.apache.hadoop.fs.FileSystem,
      rootDir: String, subsumed: Seq[String]): Unit = {
    val b0 = new org.apache.hadoop.fs.Path(s"$rootDir/batch=0")
    val staged = new org.apache.hadoop.fs.Path(s"$rootDir/_compacting")
    // per-attempt park dir: no other actor's cleanup can delete it, so
    // the recovery branch below can ALWAYS restore what this attempt
    // parked. Zero-padded millis prefix makes newest = lexically first
    // for the stranded-base restore.
    val oldBase = new org.apache.hadoop.fs.Path(rootDir,
      f"_old_base_${System.currentTimeMillis()}%020d_${java.util.UUID.randomUUID()}")
    var parked = false
    if (fs.exists(staged)) {
      // install pending: the staged dir is complete by the commit
      // invariant (marker is written only after the staged meta).
      // Hadoop FileSystem.rename signals failure by RETURNING FALSE; an
      // unchecked failure here would leave a state a later repair
      // misclassifies, so every rename must be verified.
      if (fs.exists(b0) && fs.exists(staged)) {
        // the second staged check is a LAST-MOMENT re-verify: if a
        // concurrent roll-forward already installed (staged gone), the
        // b0 we see is the NEW base — don't displace it at all
        require(fs.rename(b0, oldBase),
          s"rename $b0 -> $oldBase failed; aborting roll-forward")
        parked = true
      }
      if (!fs.rename(staged, b0)) {
        // a CONCURRENT roll-forward of the same committed marker may have
        // completed the install between our staged-exists check and here
        // (e.g. append-path heal racing the compactor's own commit) — in
        // that case the base we just parked aside IS the installed base:
        // restore it instead of stranding the layout without batch=0.
        // Our park dir is attempt-private, so it cannot have been deleted
        // by the racing winner (it sweeps only its own).
        if (!fs.exists(b0) && fs.exists(oldBase))
          require(fs.rename(oldBase, b0),
            s"restore $oldBase -> $b0 failed after racing roll-forward")
        require(fs.exists(b0),
          s"rename $staged -> $b0 failed and no base is present")
      }
    }
    if (parked) fs.delete(oldBase, true) // ONLY our own park dir
    subsumed.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$rootDir/$n"), true))
    fs.delete(new org.apache.hadoop.fs.Path(rootDir, "_graft_subsumed"), false)
  }

  private def writeTextFile(fs: org.apache.hadoop.fs.FileSystem,
      path: String, content: String): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def readTextFile(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(path)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Meta I/O goes through the Hadoop FileSystem of the layout path, not
    * java.nio — a layout on HDFS/S3A carries its meta beside its data. */
  private def writeMeta(dir: String,
      scaling: Seq[(String, Double, Double)], bits: Int, curve: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    // java Double round-trips exactly through toString/parseDouble
    val meta = (s"bits $bits $curve" +: scaling.map { case (c, mn, mx) =>
      s"$c $mn $mx"
    }).mkString("\n")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    writeTextFile(fs, s"$dir/_graft_zmeta", meta)
  }

  private def readMeta(dir: String,
      conf: org.apache.hadoop.conf.Configuration)
      : (Seq[(String, Double, Double)], Int, String) = {
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_zmeta")
    val fs = p.getFileSystem(conf)
    val lines = readTextFile(fs, p).split("\n")
    val head = lines.head.stripPrefix("bits ").trim.split(" ")
    val bits = head(0).toInt
    // curve token absent in layouts written before Hilbert support: Morton
    val curve = if (head.length > 1) head(1) else Zorder
    val scaling = lines.drop(1).toSeq.map { l =>
      val Array(c, mn, mx) = l.split(" ")
      (c, mn.toDouble, mx.toDouble)
    }
    (scaling, bits, curve)
  }

  private def writeClustered(df: DataFrame,
      scaling: Seq[(String, Double, Double)], bits: Int, curve: String,
      outDir: String, files: Int, overwrite: Boolean): Unit = {
    // the hilbert_d expression resolves through the function registry
    graft.functions.GraftFunctions.ensure(df.sparkSession)
    val ranks = scaling.map { case (c, mn, mx) =>
      scaledRank(numKey(df, c), mn, mx, bits) }
    val z = df.withColumn("_z", curveValue(ranks, bits, curve))
    // File i holds the curve values between the i-th and (i+1)-th
    // `files`-quantile. repartitionByRange would pick its bounds from a
    // sample Spark seeds with the RDD id, so the file boxes (and how well
    // they prune) changed with how many RDDs the JVM had made before.
    val bounds = if (files <= 1) Array.empty[Double]
      else z.stat.approxQuantile("_z", Array.tabulate(files - 1)(i => (i + 1.0) / files), 1e-4)
    val routed = z.withColumn("_f",
      bounds.foldLeft(lit(0))((f, b) => f + (col("_z") > b).cast("int")))
    val byFile = routed.rdd.keyBy(_.getAs[Int]("_f"))
      .partitionBy(new org.apache.spark.HashPartitioner(files)).values // Int key: identity
    df.sparkSession.createDataFrame(byFile, routed.schema)
      .sortWithinPartitions("_z")
      .drop("_z", "_f")
      .write.mode(if (overwrite) "overwrite" else "append").parquet(outDir)
  }

  /** Baseline for comparison: the same table linearly sorted by
    * `sortCols` into `files` files (perfect pruning on the leading
    * column, none on the rest). */
  def linearWrite(df: DataFrame, sortCols: Seq[String], outDir: String,
      files: Int): Unit =
    df.repartitionByRange(files, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(outDir)

  private def log2Exact(n: Int, what: String): Int = {
    require(n > 0 && (n & (n - 1)) == 0, s"$what must be a power of two, got $n")
    java.lang.Integer.numberOfTrailingZeros(n)
  }

  /** Curve-BUCKETED rewrite: like [[zorderWrite]] but file membership is
    * the DETERMINISTIC static grid `fid = top log₂(bins) bits of the
    * curve value` (equal-width curve cells — a zone map) instead of
    * quantile boundaries. Trade: [[zorderWrite]] balances file SIZES at
    * the data's quantiles, which move as data arrives; the static grid
    * fixes every row's file as pure arithmetic on its key — replayable
    * by any engine (the prune row's DuckDB oracle recomputes the whole
    * assignment), stable across runs and appends, at the cost of bins
    * tracking key-space density (skewed data coarsens hot cells exactly
    * like a zone map). Plan: one metadata-scale min/max aggregate + one
    * codegen'd projection + one hash shuffle on the bounded fid space —
    * no global sort, no sampling pass. */
  def binnedZorderWrite(df: DataFrame, zcols: Seq[String], outDir: String,
      bins: Int, bits: Int = 16): Unit = {
    graft.functions.GraftFunctions.ensure(df.sparkSession)
    val scaling = computeScaling(df, zcols)
    val ranks = scaling.map { case (c, mn, mx) =>
      scaledRank(numKey(df, c), mn, mx, bits) }
    val shift = zcols.size * bits - log2Exact(bins, "bins")
    df.withColumn("fid",
        shiftright(curveValue(ranks, bits, Zorder), shift))
      .repartition(bins, col("fid"))
      .write.mode("overwrite").partitionBy("fid").parquet(outDir)
    writeMeta(outDir, scaling, bits, Zorder,
      df.sparkSession.sessionState.newHadoopConf())
  }

  /** [[binnedZorderWrite]]'s linear baseline: `fid` = top log₂(bins)
    * bits of the LEADING column's rank — equal-width bins on one
    * dimension, the deterministic analogue of [[linearWrite]].
    *
    * MIGRATION NOTE: layouts written by versions of this method BEFORE
    * the `linear-bin` meta tag existed carry `curve: zorder` in their
    * `_layout_meta` on disk, so the fail-loud guard on curve-path
    * consumers (e.g. `appendZOrdered`) cannot protect them — such a
    * consumer would still silently mis-derive bins from the linear fid.
    * Any pre-tag linear-bin layout must be REWRITTEN (one
    * `binnedLinearWrite` over its rows) before a curve-path consumer
    * touches it; there is deliberately no in-place meta edit (the meta
    * is the writer's contract, not a mutable attribute). */
  def binnedLinearWrite(df: DataFrame, sortCols: Seq[String], outDir: String,
      bins: Int, bits: Int = 16): Unit = {
    val scaling = computeScaling(df, sortCols.take(1))
    val rank = scaling.map { case (c, mn, mx) =>
      scaledRank(numKey(df, c), mn, mx, bits) }.head
    df.withColumn("fid", shiftright(rank, bits - log2Exact(bins, "bins")))
      .repartition(bins, col("fid"))
      .write.mode("overwrite").partitionBy("fid").parquet(outDir)
    // LinearBin, not Zorder: this layout's fid is NOT a curve value, and
    // the distinct tag keeps curve-path readers from mis-deriving bins
    writeMeta(outDir, scaling, bits, LinearBin,
      df.sparkSession.sessionState.newHadoopConf())
  }

  /** Per-BIN (min, max) of `cols` for a binned layout — each bin's range
    * is exactly the roll-up of its files' parquet footer stats ([[
    * fileRanges]] granularity, aggregated over the bin's partition dir).
    * Same column naming as fileRanges so [[filesOverlapping]] runs on
    * either granularity unchanged. */
  def binRanges(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame =
    spark.read.parquet(dir)
      .groupBy(col("fid"))
      .agg(min(col(cols.head)).as(s"mn_${cols.head}"),
        (Seq(max(col(cols.head)).as(s"mx_${cols.head}")) ++
          cols.drop(1).flatMap(c =>
            Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))): _*)

  /** Per-file (min, max) of `cols` for a written layout — exactly the
    * footer stats a min/max-pruning reader consults, materialized as one
    * aggregate (`file, mn_c1, mx_c1, mn_c2, mx_c2, ...`). Probe-side
    * observability; production readers get the same pruning from parquet
    * row-group stats via pushed filters. */
  def fileRanges(spark: SparkSession, dir: String, cols: Seq[String]): DataFrame =
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(cols.head)).as(s"mn_${cols.head}"),
        (Seq(max(col(cols.head)).as(s"mx_${cols.head}")) ++
          cols.drop(1).flatMap(c =>
            Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))): _*)

  /** How many files of a layout SURVIVE min/max pruning for the box
    * predicate `lo(c) <= c <= hi(c)` — the file-skipping arithmetic a
    * stats-pruning reader performs. A file with NULL range stats (an
    * all-null column chunk) survives: a real stats-pruning reader must
    * read a file whose footer carries no min/max, exactly as the
    * footer-truth row-group count does (EXPLAIN.md "Round 10: Z-order
    * layout — footer-truth pruning"). Returns (surviving, total). */
  def filesOverlapping(ranges: DataFrame, box: Map[String, (Double, Double)])
      : (Long, Long) = {
    val pred = box.map { case (c, (lo, hi)) =>
      col(s"mn_$c").cast("double") <= hi && col(s"mx_$c").cast("double") >= lo
    }.reduce(_ && _)
    // one pass: both counts from a single aggregate over the ranges scan
    val row = ranges.agg(
      sum(when(coalesce(pred, lit(true)), 1L).otherwise(0L)).as("surviving"),
      count(lit(1)).as("total")).head()
    (if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1))
  }
}
