package graft.domain

/** The reference's validation-error taxonomy, re-expressed as data.
  *
  * Semantics derived from `MapReduceError.java:2-33` (enum declaration order
  * — which IS the reporting precedence: the driver scans `Errors.values()` in
  * order and reports the first counter > 0, `LASERInputValidator.java:135-140`,
  * `TRACEInputValidator.java:214-219`) and `:35-69` (messages).
  */
object Errors {
  final case class Code(name: String, ordinal: Int, message: String)

  private val defs: Seq[(String, String)] = Seq(
    "SEQ_FILE_IS_NOT_GZIP" -> "Study sequence file must be compressed using Gzip!",
    "SITE_FILE_IS_NOT_GZIP" -> "Study site file must be compressed using Gzip!",
    "VCF_IS_NOT_GZIP" -> "Input VCF(s) must be compressed using Gzip!",
    "FILE_FORMAT_NOT_SUPPORTED" -> "Provided study genotypes file format is not supported!",
    "GROUPS_FILE_TOO_MANY_COLUMNS" -> "Study groups file has line(s) with more than two columns!",
    "GROUPS_FILE_MISSING_COLUMNS" -> "Study groups file has line(s) with less than two columns!",
    "SEQ_FILE_TOO_FEW_COLUMNS" -> "One or more lines in study sequence file have less than five columns!",
    "SEQ_FILE_MISSING_COLUMNS" -> "Columns are missing in one or more lines in study sequence file!",
    "SEQ_FILE_INCONSISTENT_COLUMNS" -> "One or more lines in study sequence file have different number of columns!",
    "SEQ_SAMPLE_NOT_IN_GROUP" -> "One or more individuals from study sequence file are not present in study groups file!",
    "SITE_FILE_TOO_FEW_COLUMNS" -> "Site file has less than five columns!",
    "SITE_FILE_HEADER_NO_CHR" -> "No 'CHR' column in site file!",
    "SITE_FILE_HEADER_NO_POS" -> "No 'POS' column in site file!",
    "SITE_FILE_HEADER_NO_ID" -> "No 'ID' column in site file!",
    "SITE_FILE_HEADER_NO_REF" -> "No 'REF' column in site file!",
    "SITE_FILE_HEADER_NO_ALT" -> "No 'ALT' column in site file!",
    "SITE_FILE_LOCI_NOT_IN_SEQ" -> "Study sequence and site files have different number of loci!",
    "VCF_SAMPLE_NOT_IN_GROUP" -> "One or more individuals from study VCF file(s) are not present in study groups file!",
    "VCF_NO_HEADER" -> "VCF file has no header!",
    "VCF_HEADER_NO_SAMPLES" -> "VCF file has no individuals!",
    "VCF_HEADER_NO_CHROM" -> "No '#CHROM' column in VCF file!",
    "VCF_HEADER_NO_POS" -> "No 'POS' column in VCF file!",
    "VCF_HEADER_NO_ID" -> "No 'ID' column in VCF file!",
    "VCF_HEADER_NO_REF" -> "No 'REF' column in VCF file!",
    "VCF_HEADER_NO_ALT" -> "No 'ALT' column in VCF file!",
    "VCF_HEADER_NO_QUAL" -> "No 'QUAL' column in VCF file!",
    "VCF_HEADER_NO_FILTER" -> "No 'FILTER' column in VCF file!",
    "VCF_HEADER_NO_INFO" -> "No 'INFO' column in VCF file!",
    "VCF_HEADER_NO_FORMAT" -> "No 'FORMAT' column in VCF file!",
    // Defined but never raised in the reference (`MapReduceError.java:32` has
    // no increment site) — kept for taxonomy completeness.
    "VCF_HIGH_PLOIDITY" -> "Only up to 126-ploid organisms are supported!",
  )

  val all: Seq[Code] = defs.zipWithIndex.map { case ((n, m), i) => Code(n, i, m) }
  private val byName: Map[String, Code] = all.map(c => c.name -> c).toMap

  def apply(name: String): Code = byName(name)
  def ordinal(name: String): Int = byName(name).ordinal
  def message(name: String): String = byName(name).message

  /** Driver-side reporting rule: the first declared error with count > 0
    * (`LASERInputValidator.java:135-140`). */
  def firstError(counts: Map[String, Long]): Option[Code] =
    all.find(c => counts.getOrElse(c.name, 0L) > 0)
}

/** One validation finding. The reference only keeps per-code counters; the
  * engine additionally carries the offending row/file for debuggability —
  * an upgrade the counter contract permits (`SURVEY.md §2.1 R22`).
  */
final case class ValidationError(
    code: String,
    ordinal: Int,
    file: String,
    line: Long,
    detail: String)

object ValidationError {
  def apply(code: String, file: String = "", line: Long = -1L,
      detail: String = ""): ValidationError =
    ValidationError(code, Errors.ordinal(code), file, line, detail)
}

/** Bounded reporting of a validation-error set: per-code counts (all the
  * reference's reporting rule ever consumes — it only keeps Hadoop counters,
  * `LASERInputValidator.java:135-140`) plus ≤ `sampleK` example rows per
  * code for debuggability.
  *
  * Scale: the error channel is exactly where pathological inputs live — a
  * seq file where EVERY row is arity-broken must not collect billions of
  * findings to the driver. Each scan task folds its findings into a
  * `Partial` of O(#codes × sampleK) rows; only those reach the driver.
  */
final case class ErrorSummary(
    counts: Map[String, Long],
    samples: Seq[ValidationError]) {
  def firstError: Option[Errors.Code] = Errors.firstError(counts)
  def ++(other: ErrorSummary): ErrorSummary = ErrorSummary(
    (counts.keySet ++ other.counts.keySet).iterator
      .map(c => c -> (counts.getOrElse(c, 0L) + other.counts.getOrElse(c, 0L))).toMap,
    samples ++ other.samples)
}

object ErrorSummary {
  val empty: ErrorSummary = ErrorSummary(Map.empty, Nil)

  /** For driver-side error seqs (pre-scan gzip sniffs, cross-checks). */
  def ofSeq(errs: Seq[ValidationError]): ErrorSummary =
    ErrorSummary(errs.groupBy(_.code).map { case (c, es) => c -> es.size.toLong }, errs)

  /** Samples kept per code. */
  val sampleK = 10

  private def key(e: ValidationError) = (e.line, e.file, e.detail)

  /** Bounded per-code state: complete count + the ≤ k smallest samples by
    * (line, file, detail). */
  final case class Bounded(cnt: Long, samples: Seq[ValidationError]) {
    def merge(o: Bounded, k: Int): Bounded =
      Bounded(cnt + o.cnt, (samples ++ o.samples).sortBy(key).take(k))
  }

  /** Per-code bounded states: what a task-side scan accumulates and the
    * driver merges, O(#codes × k) whatever the input. */
  type Partial = Map[String, Bounded]

  def add(p: Partial, e: ValidationError, k: Int = sampleK): Partial =
    merge(p, Map(e.code -> Bounded(1L, Vector(e))), k)

  def merge(a: Partial, b: Partial, k: Int = sampleK): Partial =
    b.foldLeft(a) { case (acc, (code, x)) =>
      acc.updated(code, acc.get(code).fold(x)(_.merge(x, k)))
    }

  /** Complete counts; samples in reporting order (ordinal, file, line,
    * detail). */
  def fromPartial(p: Partial): ErrorSummary = ErrorSummary(
    p.map { case (code, b) => code -> b.cnt },
    p.values.flatMap(_.samples).toSeq.sortBy(e => (e.ordinal, e.file, e.line, e.detail)))

  /** Driver-side error sets of unbounded size (e.g. one finding per sample
    * column), bounded the same way. */
  def bounded(errs: IterableOnce[ValidationError], k: Int = sampleK): ErrorSummary =
    fromPartial(errs.iterator.foldLeft(Map.empty: Partial)((p, e) => add(p, e, k)))
}
