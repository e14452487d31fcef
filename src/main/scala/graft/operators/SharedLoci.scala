package graft.operators

import graft.sources.{PanelReader, SiteReader}

/** THE reference query (R15+R16+R17): count study loci and how many match
  * the reference panel on `chr:pos` with **order-sensitive,
  * case-insensitive** allele equality `"REF/ALT"`
  * (`LASERInputCheckMapper.java:239-251`, `compareToIgnoreCase` at `:245`;
  * duplicate logic `TRACEInputCheckMapper.java:221-255`).
  *
  * Shape: the reference's per-task heap HashMap. The panel lookup is
  * broadcast (`PanelReader.withLookup`) and every study row probes it inside
  * the submission's one map-only pass, which also reads the file's header
  * and folds every other input of the submission — no join, no exchange.
  */
object SharedLoci {

  /** Order-sensitive, case-insensitive `"REF/ALT"` equality. */
  def allelesMatch(study: String, panel: String): Boolean =
    study.toLowerCase(java.util.Locale.ROOT) == panel.toLowerCase(java.util.Locale.ROOT)

  /** Is the locus of a site or VCF body row in the panel with matching
    * alleles? A row without a POS matches nothing. */
  def isShared(panel: PanelReader.Lookup, line: String): Boolean = {
    val (chr, pos, alleles) = SiteReader.locus(line)
    pos != null && panel.get((chr, pos)).exists(allelesMatch(alleles, _))
  }

  /** One partition of a study file in the site layout: its header candidate
    * with the lowest idx, TOTAL (locus rows) and SHARED loci. */
  final case class Scan(header: Option[(Long, String)], total: Long, shared: Long) {
    def ++(o: Scan): Scan =
      Scan((header ++ o.header).minByOption(_._1), total + o.total, shared + o.shared)
  }

  object Scan { val empty: Scan = Scan(None, 0L, 0L) }

  /** Folds rows into a `Scan`: `isHeader` picks header candidates, `isLocus`
    * the rows counted against the panel. */
  def scan(rows: Iterator[(Long, String)], panel: PanelReader.Lookup)(
      isHeader: ((Long, String)) => Boolean, isLocus: ((Long, String)) => Boolean): Scan = {
    var header: Option[(Long, String)] = None
    var total, shared = 0L
    rows.foreach { row =>
      if (isHeader(row) && header.forall(_._1 > row._1)) header = Some(row)
      if (isLocus(row)) {
        total += 1
        if (isShared(panel, row._2)) shared += 1
      }
    }
    Scan(header, total, shared)
  }

  /** Rows of a LASER site file: header at idx 0, one locus per later row. */
  def site(rows: Iterator[(Long, String)], panel: PanelReader.Lookup): Scan =
    scan(rows, panel)(_._1 == 0, _._1 > 0)
}
