package graft.sources

import graft.domain.ValidationError
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TRACE VCF reader (`TRACEInputCheckMapper.java:117-255`).
  *
  * Structure: `##` meta lines, one header line that must start `#CHROM` and
  * match 9 fixed column names positionally with ≥1 sample column after them,
  * then body rows (lines starting `#` skipped, `:224-226`). Sample columns
  * are dynamic-width, so the row model is the 9 fixed fields plus a
  * `genotypes ARRAY<STRING>`; sample names are a separate product of the
  * header (`samples`).
  */
object VcfReader {

  val fixedHeader: Seq[String] = Seq(
    "#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT")

  final case class Parsed(samples: Seq[String], body: DataFrame)

  /** `##` meta line: skipped before the header (`:120-124`). */
  def isMeta(line: String): Boolean = line.startsWith("##")

  /** Body row: any line not starting `#` (`:224-226`). */
  def isBody(line: String): Boolean = !line.startsWith("#")

  private def headerLine(lines: DataFrame): Option[String] = {
    import lines.sparkSession.implicits._
    // First non-`##` line — the reference's skip-then-look sequence.
    lines.select("idx", "line").as[(Long, String)].filter(r => !isMeta(r._2))
      .orderBy("idx").limit(1).map(_._2).collect().headOption
  }

  /** Pure header-string rules (R11), in the reference's evaluation order:
    * presence of a `#CHROM`-prefixed header (`:179-183`), then sample count
    * (`:127-131` — checked BEFORE the column names), then positional name
    * equality (`:133-167`). Runs driver-side on the header strings the
    * TRACE intake scan returns. */
  def validateHeaderString(header: Option[String]): Seq[ValidationError] = header match {
    case None => Seq(ValidationError("VCF_NO_HEADER"))
    case Some(h) if !h.startsWith("#CHROM") => Seq(ValidationError("VCF_NO_HEADER"))
    case Some(h) =>
      val fields = h.split("\t", -1)
      if (fields.length <= 9) Seq(ValidationError("VCF_HEADER_NO_SAMPLES"))
      else fixedHeader.zipWithIndex.collectFirst {
        case (want, i) if fields(i) != want =>
          val tag = if (i == 0) "CHROM" else want
          ValidationError(s"VCF_HEADER_NO_$tag", detail = s"found '${fields(i)}'")
      }.toSeq
  }

  /** Sample column names of a header line (empty when header is absent or
    * malformed). */
  def samplesOf(header: Option[String]): Seq[String] = header match {
    case Some(h) if h.startsWith("#CHROM") => h.split("\t", -1).drop(9).toSeq
    case _ => Seq.empty
  }

  /** lines → samples + body(chrom, pos, id, ref, alt, qual, filter, info,
    * format, genotypes ARRAY<STRING>). */
  def parse(lines: DataFrame): Parsed = {
    val samples = samplesOf(headerLine(lines))
    val t = split(col("line"), "\t")
    val body = lines
      .filter((r: org.apache.spark.sql.Row) => isBody(r.getString(r.fieldIndex("line"))))
      .select(
        col("idx"),
        // get() not getItem(): truncated body rows parse to NULL fields and
        // an empty genotype array instead of ANSI array-index crashes
        t.getItem(0).as("chrom"), get(t, lit(1)).as("pos"), get(t, lit(2)).as("id"),
        get(t, lit(3)).as("ref"), get(t, lit(4)).as("alt"), get(t, lit(5)).as("qual"),
        get(t, lit(6)).as("filter"), get(t, lit(7)).as("info"), get(t, lit(8)).as("format"),
        slice(t, lit(10), greatest(size(t) - 9, lit(0))).as("genotypes"))
    Parsed(samples, body)
  }

  /** Format dispatch (R7, `TRACEInputCheckMapper.java:323-338`):
    * case-insensitive on {VCF, 23andMe, AncestryDNA}; the two consumer
    * formats are honest stubs in the reference (`:275-293`) and are declared
    * stubs here. */
  def dispatch(format: String): Either[ValidationError, String] =
    format.toLowerCase match {
      case "vcf" => Right("vcf")
      case "23andme" => Right("23andme-stub")
      case "ancestrydna" => Right("ancestrydna-stub")
      case other => Left(ValidationError("FILE_FORMAT_NOT_SUPPORTED", detail = other))
    }
}
