package graft.laser

import graft.domain.{Descriptors, ErrorSummary, Errors, ValidationError}
import graft.operators.{ChunkSink, SharedLoci}
import graft.sources._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** The LASER input-check workflow (`LASERInputValidator.run`,
  * `LASERInputCheckMapper.java:272-301`): validate groups → seq → site
  * against the reference panel, chunk the seq file, and report counters.
  *
  * The reference short-circuits file-at-a-time and row-at-a-time; the engine
  * computes each file's validation set and reports the highest-precedence
  * error (`Errors.firstError` — same driver-visible outcome,
  * `LASERInputValidator.java:135-140`). Gates (R23): `individuals == 0` and
  * `sharedLoci <= 100` (`:147-155`).
  */
object LaserPipeline {

  /** `errorCounts` is the complete per-code tally (the reference's counter
    * contract); `errors` carries ≤ sampleK examples per code — the full
    * finding set is never materialized on the driver (R22 at 100 TB). */
  final case class Result(
      firstError: Option[Errors.Code],
      errors: Seq[ValidationError],
      errorCounts: Map[String, Long],
      individuals: Long,
      totalLoci: Long,
      sharedLoci: Long,
      chunks: Long) {
    /** Threshold gates (`LASERInputValidator.java:147-155`). */
    def gateMessages: Seq[String] = {
      val g1 = if (firstError.isEmpty && individuals == 0)
        Seq("No individuals found in study sequence file!") else Nil
      val g2 = if (firstError.isEmpty && sharedLoci <= 100)
        Seq("Too few loci shared between study and reference panel! PCA will not be informative!")
      else Nil
      g1 ++ g2
    }
    def ok: Boolean = firstError.isEmpty && gateMessages.isEmpty
  }

  /** One partition's fold, tagged by the input it read. */
  private sealed trait Part
  private final case class GroupsPart(s: GroupsReader.Summary) extends Part
  private final case class SitePart(s: SharedLoci.Scan) extends Part
  private final case class SeqPart(s: SeqReader.Summary) extends Part

  /** Core shared by the file pipeline and the inline-fixture queries: all
    * inputs already as line sets. `chunksOut = None` skips the chunk write.
    *
    * One map-only Spark job, no shuffle (the reference's
    * `setNumReduceTasks(0)` input check, `LASERInputCheckMapper.java:121-162`),
    * plus one to build the panel lookup when it is not cached
    * (`PanelReader.withLookup`). The job folds every partition of every
    * input, each tagged by its input: groups (R5, sample set), site
    * (header, TOTAL, SHARED) and seq, whose pass checks every row, records
    * each individual's rows and the locus counts and stages the chunks. The
    * driver merges the bounded summaries, adds the group-membership and R20
    * cross-checks, and promotes the chunks only when no error was found. */
  def run(
      seqLines: DataFrame,
      siteLines: DataFrame,
      panelLines: DataFrame,
      groupsLines: Option[DataFrame],
      chunksOut: Option[String] = None,
      chunkSize: Int = 100,
      preErrors: Seq[ValidationError] = Nil): Result = {

    val sc = seqLines.sparkSession.sparkContext
    val conf = sc.hadoopConfiguration
    val staging = chunksOut.map(ChunkSink.staging)
    try {
      val parts = PanelReader.withLookup(panelLines) { panel =>
        sc.union(groupsLines.toSeq.map(
            Lines.folds[Part](_)(rows => GroupsPart(GroupsReader.summarize(rows)))) ++ Seq(
          Lines.folds[Part](siteLines)(rows => SitePart(SharedLoci.site(rows, panel.value))),
          ChunkSink.scan[Part](seqLines, staging, chunkSize)(rows =>
            SeqPart(SeqReader.summarize(rows))))).collect()
      }
      val groups = groupsLines.map(_ => parts.collect { case GroupsPart(g) => g }
        .foldLeft(GroupsReader.summarize(Iterator.empty))(_ ++ _))
      val site = parts.collect { case SitePart(x) => x }.foldLeft(SharedLoci.Scan.empty)(_ ++ _)
      val seq = parts.collectFirst { case SeqPart(x) => x }
        .getOrElse(SeqReader.summarize(Iterator.empty))

      val siteErrs = site.header.toSeq.flatMap(h => SiteReader.validateHeader(h._2))
      val rowErrs = ErrorSummary.merge(groups.fold(Map.empty: ErrorSummary.Partial)(_.errors),
        seq.findings(groups.map(_.samples)))
      val fileSum = ErrorSummary.fromPartial(siteErrs.foldLeft(rowErrs)(ErrorSummary.add(_, _)))
      // R20: site row count must equal the seq locus count — only when the
      // site file itself validated (the reference aborts the site scan on a
      // header error before ever counting, `LASERInputCheckMapper.java:203-235`).
      val crossSum =
        if (siteErrs.isEmpty && site.total != seq.minLoci)
          ErrorSummary.ofSeq(Seq(ValidationError("SITE_FILE_LOCI_NOT_IN_SEQ",
            detail = s"site rows ${site.total} != seq loci ${seq.minLoci}")))
        else ErrorSummary.empty
      val all = ErrorSummary.ofSeq(preErrors) ++ fileSum ++ crossSum

      val chunks = (chunksOut, staging) match {
        case (Some(dir), Some(st)) if all.firstError.isEmpty => ChunkSink.promote(st, dir, conf)
        // the chunk count is well-defined without the write
        case _ => (seq.rows + chunkSize - 1) / chunkSize
      }
      Result(all.firstError, all.samples, all.counts,
        seq.individuals.size.toLong, site.total, site.shared, chunks)
    } finally staging.foreach(ChunkSink.discard(_, conf))
  }

  /** Post-gate descriptor emission (`LASERInputValidator.java:157-183`):
    * ONE reference-PCA descriptor plus one study-PCA descriptor per chunk,
    * written only for a fully successful run — the same position in the
    * workflow as the reference (after the gates, before the seq delete).
    * Both sets go out in one `Descriptors.writeRouted` job (exact names),
    * each row carrying its directory. */
  def emitJobs(spark: SparkSession, result: Result, chunksDir: String,
      siteFile: String, reference: String, referencePc: String,
      dim: Int, dimHigh: Int, referenceJobDir: String, studyJobDir: String): Boolean = {
    if (!result.ok) false
    else {
      Descriptors.writeRouted(
        Descriptors.referencePca(spark, reference, referencePc, dim)
          .withColumn("dir", lit(referenceJobDir))
          .unionByName(Descriptors.laserStudyPca(spark, result.chunks, chunksDir,
            siteFile, reference, referencePc, dim, dimHigh).withColumn("dir", lit(studyJobDir))))
      true
    }
  }

  /** File-backed entry point mirroring `LASERInputValidator.run`: gzip
    * sniffs (R1) happen before any scan, exactly as the reference raises
    * `*_IS_NOT_GZIP` pre-parse (`LASERInputCheckMapper.java:108-111,191-195`). */
  def runFiles(spark: SparkSession, seqPath: String, sitePath: String,
      panelPath: String, groupsPath: Option[String], chunksOut: Option[String],
      chunkSize: Int = 100, deleteSeqAfterChunks: Boolean = false): Result = {
    val pre = Seq(
      (!Lines.isGzip(spark, seqPath), "SEQ_FILE_IS_NOT_GZIP"),
      (!Lines.isGzip(spark, sitePath), "SITE_FILE_IS_NOT_GZIP"),
    ).collect { case (true, code) => ValidationError(code) }
    if (pre.nonEmpty)
      Result(Errors.firstError(pre.map(_.code -> 1L).toMap), pre,
        pre.map(_.code -> 1L).toMap, 0, 0, 0, 0)
    else {
      val r = run(
        Lines.read(spark, seqPath),
        Lines.read(spark, sitePath),
        Lines.read(spark, panelPath),
        groupsPath.filter(_.nonEmpty).map(Lines.read(spark, _)),
        chunksOut, chunkSize)
      // R29: the reference deletes the original seq file strictly after
      // job success, error scan, AND both threshold gates
      // (`LASERInputValidator.java:186` sits below the gate returns at
      // `:147-155`) — so gate on `r.ok`, not just firstError.
      if (deleteSeqAfterChunks && r.ok && chunksOut.nonEmpty) {
        val p = new org.apache.hadoop.fs.Path(seqPath)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
      }
      r
    }
  }
}
