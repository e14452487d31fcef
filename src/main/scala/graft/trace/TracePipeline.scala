package graft.trace

import graft.domain.{Descriptors, ErrorSummary, Errors, ValidationError}
import graft.operators.SharedLoci
import graft.sources._
import org.apache.spark.sql.DataFrame

/** The TRACE workflow (`TRACEInputValidator.run` +
  * `TRACEInputCheckMapper.java:301-340`): per-VCF validation against the
  * panel, per-file counters (`("INDIVIDUALS"|"TOTAL_SITES"|"SHARED_SITES"),
  * fileId` groups, `:267-269`), then cross-file consistency + threshold
  * gates (`TRACEInputValidator.java:221-238`) and the study meta JSON.
  */
object TracePipeline {

  final case class FileStats(fileId: String, individuals: Long,
      totalLoci: Long, sharedLoci: Long)

  /** `errorCounts` = complete per-code tally; `errors` = ≤ k samples per
    * code (bounded error channel, see `ErrorSummary`). */
  final case class Result(
      firstError: Option[Errors.Code],
      errors: Seq[ValidationError],
      errorCounts: Map[String, Long],
      perFile: Seq[FileStats],
      gateMessages: Seq[String]) {
    def individuals: Long = perFile.headOption.map(_.individuals).getOrElse(0L)
    def totalLoci: Long = perFile.map(_.totalLoci).sum
    def sharedLoci: Long = perFile.map(_.sharedLoci).sum
    def ok: Boolean = firstError.isEmpty && gateMessages.isEmpty
    def metaJson(format: String): String =
      Descriptors.studyMetaJson(individuals, totalLoci, sharedLoci, format)
  }

  /** One partition's fold: of the groups file, or of a VCF with its id. */
  private type Part = Either[GroupsReader.Summary, (String, SharedLoci.Scan)]

  /** Multi-file run: format dispatch (R7), per-file stats, cross-file
    * individual-count agreement (TreeSet-size check,
    * `TRACEInputValidator.java:230-233`), `sharedLoci <= 100` gate (`:235-238`).
    *
    * ONE pass over every VCF and the groups file — the reference validates
    * every VCF inside a single map-only MapReduce job with per-file counter
    * groups (`TRACEInputCheckMapper.java:267-269`); a file-at-a-time loop
    * would run O(#files) Spark jobs. Shape: each partition of each file
    * folds to its first non-`##` line (by idx), its body row count and its
    * shared-loci count against the broadcast panel lookup, and each
    * partition of the groups file to its R5 findings and samples; the
    * driver merges those per file (#files rows of metadata), runs the
    * header rules and the sample membership check on the header strings,
    * and discards the counts of every file that errored. A submission costs
    * one Spark job for any number of files, plus one to build the panel
    * lookup when it is not cached (`PanelReader.withLookup`). */
  def run(files: Seq[(String, DataFrame)], panelLines: DataFrame,
      groupsLines: Option[DataFrame], format: String = "vcf"): Result = {

    VcfReader.dispatch(format) match {
      case Left(err) =>
        return Result(Some(Errors(err.code)), Seq(err), Map(err.code -> 1L), Nil, Nil)
      case Right(f) if f.endsWith("-stub") =>
        // 23andMe / AncestryDNA are honest stubs in the reference
        // (`TRACEInputCheckMapper.java:275-293`): accepted, no validation.
        return Result(None, Nil, Map.empty,
          files.map { case (id, _) => FileStats(id, 0, 0, 0) }, Nil)
      case Right(_) =>
    }

    // Empty input list (e.g. a glob that matched nothing): a well-formed
    // Result, with the shared-loci gate firing exactly as a zero-stat run
    // would (sum 0 <= 100).
    if (files.isEmpty)
      return Result(None, Nil, Map.empty, Nil,
        Seq("Too few loci shared between study and reference panel! PCA will not be informative!"))

    val sc = panelLines.sparkSession.sparkContext
    val parts = PanelReader.withLookup(panelLines) { panel =>
      sc.union(groupsLines.toSeq.map(Lines.folds[Part](_)(rows =>
          Left(GroupsReader.summarize(rows)))) ++
        files.map { case (id, df) =>
          Lines.folds[Part](df)(rows => Right(id ->
            SharedLoci.scan(rows, panel.value)(r => !VcfReader.isMeta(r._2),
              r => VcfReader.isBody(r._2))))
        }).collect()
    }
    val groups = groupsLines.map(_ => parts.collect { case Left(g) => g }
      .foldLeft(GroupsReader.summarize(Iterator.empty))(_ ++ _))
    val groupSum = groups.fold(ErrorSummary.empty)(g => ErrorSummary.fromPartial(g.errors))
    val scans: Map[String, SharedLoci.Scan] =
      parts.collect { case Right(s) => s }.groupMapReduce(_._1)(_._2)(_ ++ _)

    val headers: Seq[(String, Option[String])] =
      files.map { case (id, _) => id -> scans.get(id).flatMap(_.header).map(_._2) }

    // header-string rules, driver-side on #files strings
    val headerErrsByFile: Map[String, Seq[ValidationError]] =
      headers.map { case (id, h) =>
        id -> VcfReader.validateHeaderString(h).map(_.copy(file = id))
      }.toMap
    val headerSum = ErrorSummary.ofSeq(files.flatMap(f => headerErrsByFile(f._1)))

    // sample membership (`TRACEInputCheckMapper.java:169-178`) on the same
    // header strings
    val missing = groups.toSeq.flatMap { g =>
      headers.flatMap { case (id, h) =>
        VcfReader.samplesOf(h).filterNot(g.samples).map(s =>
          ValidationError("VCF_SAMPLE_NOT_IN_GROUP", file = id, detail = s))
      }
    }
    val memberSum = ErrorSummary.bounded(missing)

    val erroredFiles = headerErrsByFile.filter(_._2.nonEmpty).keySet ++ missing.map(_.file)
    val samplesByFile = headers.toMap
    val stats = files.map { case (id, _) =>
      if (erroredFiles.contains(id)) FileStats(id, 0, 0, 0)
      else {
        val s = scans.getOrElse(id, SharedLoci.Scan.empty)
        FileStats(id, VcfReader.samplesOf(samplesByFile(id)).distinct.size, s.total, s.shared)
      }
    }
    val errs = groupSum ++ headerSum ++ memberSum
    val firstErr = errs.firstError

    val gates = if (firstErr.isEmpty) {
      val distinctIndiv = stats.map(_.individuals).distinct
      val g1 = if (distinctIndiv.size > 1)
        Seq("Input VCF files have different number of individuals!") else Nil
      val g2 = if (g1.isEmpty && stats.map(_.sharedLoci).sum <= 100)
        Seq("Too few loci shared between study and reference panel! PCA will not be informative!")
      else Nil
      g1 ++ g2
    } else Nil

    Result(firstErr, errs.samples, errs.counts, stats, gates)
  }
}
