package graft

import graft.domain.Fixtures
import graft.operators.SharedLoci
import graft.sources._

/** Readers + validation rules (SURVEY §5.3) and the R15 allele-match
  * property battery (SURVEY §5.4 — exhaustive over the allele alphabet
  * rather than sampled, since the space is tiny). */
class LaserSourcesSpec extends TestBase {

  /** (idx, line) rows of a line list, as a scan's partition yields them. */
  private def indexed(lines: Seq[String]): Iterator[(Long, String)] =
    lines.zipWithIndex.iterator.map { case (l, i) => (i.toLong, l) }

  test("seq parse: tab-or-space tokenizer, loci array (R2, §1.2.1)") {
    val parsed = SeqReader.parse(Lines.of(spark, Fixtures.seqLines))
      .orderBy("idx").collect()
    assert(parsed.length == 3)
    assert(parsed.map(_.getString(1)).toSeq == Seq("POP1", "POP1", "POP2"))
    assert(parsed.map(_.getString(2)).toSeq == Seq("ind_001", "ind_002", "ind_003"))
    assert(parsed.forall(_.getLong(3) == 3L))
    val loci = parsed(0).getSeq[org.apache.spark.sql.Row](4)
    assert(loci.head.getDouble(0) == 2.0 && loci.head.getDouble(2) == 0.99)
  }

  test("seq parse: arity-broken rows parse to NULL n_loci and loci, one-token rows to NULL indiv_id") {
    val rows = SeqReader.parse(Lines.of(spark, Fixtures.badSeqLines :+ "lonely"))
      .orderBy("idx").collect()
    def loci(i: Int) = Option(rows(i).getSeq[org.apache.spark.sql.Row](4))
      .map(_.map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))))
    assert(rows.map(r => (r.getString(1), r.getString(2), Option(r.get(3)))).toSeq == Seq(
      ("POP1", "ind_001", Some(1L)), ("POP1", "ind_404", Some(1L)), ("POP1", "bad", None),
      ("POP1", "bad2", None), ("POP1", "ind_005", Some(2L)), ("lonely", null, None)))
    assert(loci(0).contains(Seq((2.0, 1.0, 0.99))))
    assert(loci(4).contains(Seq((1.0, 1.0, 0.5), (2.0, 2.0, 0.5))))
    assert(Seq(2, 3, 5).forall(loci(_).isEmpty))
  }

  test("ErrorSummary.add: complete counts and the k smallest samples per code") {
    import graft.domain.{ErrorSummary, ValidationError}
    // the whole finding list at once: count per code, stable sort by
    // (line, file, detail), keep k
    def reference(errs: Seq[ValidationError]): ErrorSummary.Partial =
      errs.groupBy(_.code).map { case (c, es) => c -> ErrorSummary.Bounded(es.size.toLong,
        es.sortBy(e => (e.line, e.file, e.detail)).take(ErrorSummary.sampleK)) }
    def bounded(errs: Seq[ValidationError]): ErrorSummary.Partial =
      errs.foldLeft(Map.empty: ErrorSummary.Partial)((p, e) => ErrorSummary.add(p, e))
    // descending arrival, two codes, equal lines told apart by file and
    // detail, and exact duplicates (ties keep the earlier arrival)
    val desc = (40 to 0 by -1).flatMap { i =>
      Seq(ValidationError("SEQ_FILE_TOO_FEW_COLUMNS", line = i.toLong, detail = s"d${i % 3}"),
        ValidationError("SEQ_FILE_MISSING_COLUMNS", file = s"f${i % 2}", line = (i / 4).toLong),
        ValidationError("SEQ_FILE_MISSING_COLUMNS", file = s"f${i % 2}", line = (i / 4).toLong))
    }
    val got = bounded(desc)
    assert(got == reference(desc))
    assert(got("SEQ_FILE_TOO_FEW_COLUMNS").cnt == 41L &&
      got("SEQ_FILE_TOO_FEW_COLUMNS").samples.map(_.line) == (0L to 9L))
    // every seq row broken: one finding per row through the intake scan
    val broken = (0 until 5000).map(i => (i.toLong,
      if (i % 2 == 0) s"only_one_col_$i" else s"POP1 ind_$i 1 2 3 4"))
    val findings = broken.flatMap { case (i, l) =>
      SeqReader.arity(i, l.split("[\t ]", -1).length).left.toOption }
    val scanned = SeqReader.summarize(broken.iterator).errors
    assert(scanned == reference(findings))
    assert(scanned.map { case (c, b) => c -> b.cnt } == Map(
      "SEQ_FILE_TOO_FEW_COLUMNS" -> 2500L, "SEQ_FILE_MISSING_COLUMNS" -> 2500L))
    assert(scanned("SEQ_FILE_MISSING_COLUMNS").samples.map(_.line) == (1L to 19L by 2))
  }

  test("seq validate: arity rules and group membership (R12, R13, R14)") {
    val groups = GroupsReader.summarize(indexed(Fixtures.groupsLines)).samples
    def findings(seq: Seq[String]) = SeqReader.summarize(indexed(seq)).findings(Some(groups))
    val errs = findings(Fixtures.badSeqLines)
    assert(errs.keySet == Set("SEQ_FILE_TOO_FEW_COLUMNS", "SEQ_FILE_MISSING_COLUMNS",
      "SEQ_FILE_INCONSISTENT_COLUMNS", "SEQ_SAMPLE_NOT_IN_GROUP"))
    // membership is checked on arity-valid rows only: ind_404 and ind_005
    assert(errs("SEQ_SAMPLE_NOT_IN_GROUP").samples.map(_.line) == Seq(1L, 4L))
    // a clean file yields no errors
    assert(findings(Fixtures.seqLines).isEmpty)
    // the column scan agrees with the tokenizer, empty columns included
    for (l <- Fixtures.seqLines ++ Fixtures.badSeqLines ++
        Seq("", "a", "a b", " a", "a ", "a\t\tb", "a b\tc ", "\t \t")) {
      val t = l.split("[\t ]", -1)
      assert(SeqReader.columns(l) == (t.length, if (t.length >= 2) t(1) else null), l)
    }
  }

  test("site header validation: positional, one code per column (R10)") {
    assert(SiteReader.validateHeader("CHR\tPOS\tID\tREF\tALT").isEmpty)
    assert(SiteReader.validateHeader("CHR\tPOS").map(_.code) ==
      Seq("SITE_FILE_TOO_FEW_COLUMNS"))
    assert(SiteReader.validateHeader("CHR\tPOS\tIDX\tREF\tALT").map(_.code) ==
      Seq("SITE_FILE_HEADER_NO_ID"))
    // first mismatching column wins
    assert(SiteReader.validateHeader("X\tY\tZ\tW\tV").map(_.code) ==
      Seq("SITE_FILE_HEADER_NO_CHR"))
  }

  test("groups validate: exactly two columns (R5)") {
    val g = GroupsReader.summarize(indexed(Fixtures.badGroupsLines))
    val errs = g.errors.values.flatMap(_.samples).map(e => (e.code, e.line)).toSet
    assert(errs == Set(("GROUPS_FILE_MISSING_COLUMNS", 2L), ("GROUPS_FILE_TOO_MANY_COLUMNS", 3L)))
    assert(g.samples == Set("ind_001", "ind_005", "orphan", "a"))
  }

  test("panel parse: last occurrence wins on duplicate chr:pos (R4)") {
    PanelReader.withLookup(Lines.of(spark, Fixtures.slPanelLines)) { panel =>
      assert(panel.value.get(("1", "500")).contains("T/T")) // A/C overwritten
      assert(panel.value.get(("1", "600")).contains("g/C")) // T/T overwritten
    }
  }

  private def shared(site: Seq[String], panel: Seq[String]): SharedLoci.Scan =
    PanelReader.withLookup(Lines.of(spark, panel))(p =>
      Lines.fold(Lines.of(spark, site))(SharedLoci.site(_, p.value))(_ ++ _))

  test("shared loci: case-insensitive, order-sensitive (R15-R17)") {
    val s = shared(Fixtures.slSiteLines, Fixtures.slPanelLines)
    assert(s.total == 6L && s.shared == 3L)
  }

  test("property: allele match is case-insensitive, swap never matches (R15)") {
    // One Spark job per side over the full cross product instead of a job per case.
    val alleles = Seq("A", "C", "G", "T", "a", "c", "g", "t")
    val cases = for {
      ref <- alleles; alt <- alleles if !ref.equalsIgnoreCase(alt)
    } yield (ref, alt)
    val site = "CHR\tPOS\tID\tREF\tALT" +: cases.zipWithIndex.map {
      case ((ref, alt), i) => s"1\t$i\tr\t$ref\t$alt" }
    val panelSame = "CHR\tPOS\tID\tREF\tALT" +: cases.zipWithIndex.map {
      case ((ref, alt), i) => s"1\t$i\tx\t${ref.toUpperCase}\t${alt.toLowerCase}" }
    val panelSwap = "CHR\tPOS\tID\tREF\tALT" +: cases.zipWithIndex.map {
      case ((ref, alt), i) => s"1\t$i\tx\t$alt\t$ref" }
    assert(shared(site, panelSame).shared == cases.size.toLong,
      "case-folded matches must all count as shared")
    assert(shared(site, panelSwap).shared == 0L, "swapped alleles must NOT count as shared")
  }

  test("vcf parse: meta/comment skip, 9 fixed fields, dynamic samples (R6)") {
    val parsed = VcfReader.parse(Lines.of(spark, Fixtures.vcfLines))
    assert(parsed.samples == Seq("ind_001", "ind_002"))
    val body = parsed.body.orderBy("chrom").collect()
    assert(body.length == 2) // '##' meta and '#stray' comment skipped
    assert(body(0).getSeq[String](body(0).fieldIndex("genotypes")) == Seq("0/1", "0/0"))
    // truncated body row: empty genotype array, not a negative-slice crash
    val truncated = VcfReader.parse(Lines.of(spark, Seq(
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\ts1",
      "1\t10583\trs1\tG\tA")))
    val row = truncated.body.collect()(0)
    assert(row.getSeq[String](row.fieldIndex("genotypes")).isEmpty)
  }

  test("lines reader preserves file order and gzip sniff works (R1)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-lines").toFile
    val gz = new java.io.File(tmp, "t.seq.gz")
    val out = new java.io.PrintWriter(new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(gz)))
    (0 until 500).foreach(i => out.println(s"row$i"))
    out.close()
    val plain = new java.io.File(tmp, "t.txt")
    java.nio.file.Files.writeString(plain.toPath, "not gzip")
    assert(Lines.isGzip(spark, gz.getAbsolutePath))
    assert(!Lines.isGzip(spark, plain.getAbsolutePath))
    val lines = Lines.read(spark, gz.getAbsolutePath).orderBy("idx").collect()
    assert(lines.length == 500)
    assert(lines.zipWithIndex.forall { case (r, i) =>
      r.getLong(0) == i && r.getString(1) == s"row$i" })
  }
}
