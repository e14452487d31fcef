package graft

import graft.domain.Fixtures
import graft.laser.LaserPipeline
import graft.sources.WorkflowConfig

/** R28 (yaml `version:` scan + panel path derivation) and R29 (post-chunk
  * delete of the original seq file, gated on success). */
class WorkflowConfigSpec extends TestBase {

  test("R28: version scan matches the reference's line-by-line semantics") {
    // plain match
    assert(WorkflowConfig.parseVersion(Seq("name: laser", "version: 1.2.3")) == Some("1.2.3"))
    // whitespace around the value is trimmed (split on trimmed line + trim)
    assert(WorkflowConfig.parseVersion(Seq("version:   v4  ")) == Some("v4"))
    // LAST matching line wins (reference loop keeps overwriting)
    assert(WorkflowConfig.parseVersion(Seq("version: a", "version: b")) == Some("b"))
    // a 3-part split is skipped, but an EARLIER match survives
    assert(WorkflowConfig.parseVersion(Seq("version: a", "version:1:0")) == Some("a"))
    // leading whitespace defeats startsWith (untrimmed check in reference)
    assert(WorkflowConfig.parseVersion(Seq("  version: x")) == None)
    // nothing matched → None (reference errors out)
    assert(WorkflowConfig.parseVersion(Seq("name: laser")) == None)
    assert(WorkflowConfig.parseVersion(Seq("version:")) == None)
  }

  test("R28: references dir + panel site path derivation") {
    // Hadoop Path resolves the ../../../ hops (same class the reference
    // uses): three levels up from the job temp dir, into apps/.
    val dir = WorkflowConfig.referencesDir("/tmp/jobs/j1/temp", "laser", "1.0.1")
    assert(dir == "/tmp/apps/laser@1.0.1/1.0.1/references")
    assert(WorkflowConfig.panelSitePath(dir, "HGDP") == s"$dir/HGDP.site.gz")
    val tdir = WorkflowConfig.referencesDir("/t", "trace", "2")
    assert(tdir.contains("apps/trace@2/2/references"))
  }

  /** A clean LASER submission as gzip files under `tmp`: 150 loci, all in
    * the panel, so every gate passes (R23). `seqLoci` plants an R20
    * mismatch, `siteHeader` a bad site header. */
  private def submission(tmp: java.io.File, tag: String, seqLoci: Int = 150,
      siteHeader: String = "CHR\tPOS\tID\tREF\tALT"): (String, String, String) = {
    def gzWrite(name: String, content: Seq[String]): String = {
      val f = new java.io.File(tmp, s"$tag.$name")
      val out = new java.io.PrintWriter(new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(f)))
      content.foreach(out.println); out.close()
      f.getAbsolutePath
    }
    val siteRows = (0 until 150).map(i => s"1\t${100 + i}\tr$i\tG\tA")
    val seqRows = (0 until 250).map(i => s"POP1 ind_$i " + Seq.fill(seqLoci)("1 1 0.5").mkString(" "))
    (gzWrite("seq.gz", seqRows), gzWrite("site.gz", siteHeader +: siteRows),
      gzWrite("panel.gz", "CHR\tPOS\tID\tREF\tALT" +: siteRows))
  }

  private def gunzipLines(f: java.io.File): Seq[String] = {
    val in = scala.io.Source.fromInputStream(
      new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f)), "UTF-8")
    try in.getLines().toList finally in.close()
  }

  /** Chunk file name → decompressed lines. */
  private def chunkSet(dir: java.io.File): Map[String, Seq[String]] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".chunk.seq.gz"))
      .map(f => f.getName -> gunzipLines(f)).toMap

  private def staged(dir: java.io.File): Seq[String] =
    Option(dir.list()).toSeq.flatten.filter(_.contains(".staging-"))

  test("R29: a failed chunk write keeps the seq file (runFiles)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-r29").toFile
    val (seq, site, panel) = submission(tmp, "a")
    // failure: out dir nested under a regular FILE → the scan's write throws
    val blocker = new java.io.File(tmp, "blocker.txt")
    java.nio.file.Files.writeString(blocker.toPath, "i am a file")
    intercept[Exception] {
      LaserPipeline.runFiles(spark, seq, site, panel, None,
        Some(new java.io.File(blocker, "chunks").getAbsolutePath), deleteSeqAfterChunks = true)
    }
    assert(new java.io.File(seq).exists(), "a failed chunk write must leave the original in place")

    // success: chunks written, original gone
    val out = new java.io.File(tmp, "chunks")
    val r = LaserPipeline.runFiles(spark, seq, site, panel, None, Some(out.getAbsolutePath),
      chunkSize = 100, deleteSeqAfterChunks = true)
    assert(r.ok && r.chunks == 3)
    assert(chunkSet(out).keySet == Set("0.chunk.seq.gz", "1.chunk.seq.gz", "2.chunk.seq.gz"))
    assert(!new java.io.File(seq).exists(), "original seq file must be deleted after successful chunking")
  }

  test("staged promote: a reject found after the scan leaves no chunk and no staging") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stage-reject").toFile
    for ((tag, seqLoci, header, code) <- Seq(
        ("r20", 149, "CHR\tPOS\tID\tREF\tALT", "SITE_FILE_LOCI_NOT_IN_SEQ"),
        ("hdr", 150, "CHR\tPOS\tID\tALLELE1\tALT", "SITE_FILE_HEADER_NO_REF"))) {
      val (seq, site, panel) = submission(tmp, tag, seqLoci, header)
      val out = new java.io.File(tmp, s"$tag-chunks")
      val r = LaserPipeline.runFiles(spark, seq, site, panel, None, Some(out.getAbsolutePath),
        deleteSeqAfterChunks = true)
      assert(r.firstError.map(_.name).contains(code))
      assert(r.chunks == 3, "the chunk count is reported without the write")
      assert(chunkSet(out).isEmpty, s"$tag: a reject must leave no chunk file")
      assert(staged(tmp).isEmpty, s"$tag: staging residue ${staged(tmp)}")
      assert(new java.io.File(seq).exists())
    }
  }

  test("staged promote: a failed promote keeps the seq; a re-run matches a clean run") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stage-promote").toFile
    val (seq, site, panel) = submission(tmp, "p")
    // the output path is a regular file: the scan stages fine, the promote
    // cannot create the output directory
    val out = new java.io.File(tmp, "chunks")
    java.nio.file.Files.writeString(out.toPath, "in the way")
    intercept[Exception] {
      LaserPipeline.runFiles(spark, seq, site, panel, None, Some(out.getAbsolutePath),
        deleteSeqAfterChunks = true)
    }
    assert(new java.io.File(seq).exists(), "a failed promote must leave the original in place")
    assert(staged(tmp).isEmpty, s"staging residue ${staged(tmp)}")

    // the reference output: a clean run of the same files elsewhere
    val clean = new java.io.File(tmp, "clean")
    assert(LaserPipeline.runFiles(spark, seq, site, panel, None,
      Some(clean.getAbsolutePath)).ok)
    assert(staged(tmp).isEmpty, s"a clean run left staging residue ${staged(tmp)}")

    // re-run once the obstacle is gone
    assert(out.delete())
    val r = LaserPipeline.runFiles(spark, seq, site, panel, None, Some(out.getAbsolutePath),
      deleteSeqAfterChunks = true)
    assert(r.ok)
    assert(chunkSet(out) == chunkSet(clean) && chunkSet(out).size == 3)
    assert(chunkSet(out)("2.chunk.seq.gz").size == 50)
    assert(!new java.io.File(seq).exists())
    assert(staged(tmp).isEmpty)
  }

  test("R24: distributed descriptor write — exact names, key-TSV-JSON framing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-desc").toString
    graft.domain.Descriptors.writeKeyed(
      graft.domain.Descriptors.laserStudyPca(spark, chunks = 3, "/chunks",
        "study.site.gz", "HGDP", "HGDP.pc", 4, 20), dir)
    val f1 = java.nio.file.Paths.get(dir, "1.batch")
    assert(java.nio.file.Files.exists(f1), "each descriptor writes its exact file name")
    val content = java.nio.file.Files.readString(f1)
    assert(content == "1\t" + """{"reference":"HGDP","reference_pc":"HGDP.pc","seq":"/chunks/1.chunk.seq.gz","site":"study.site.gz","dim":4,"dim_high":20}""" + "\n")
    assert((0 until 3).forall(i =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, s"$i.batch"))))
  }

  test("writeKeyed commits via temp+rename: no temp residue, re-run overwrites") {
    val dir = java.nio.file.Files.createTempDirectory("graft-desc-commit").toString
    val df = graft.domain.Descriptors.laserStudyPca(spark, chunks = 2, "/chunks",
      "s.site.gz", "REF", "REF.pc", 4, 20)
    graft.domain.Descriptors.writeKeyed(df, dir)
    // second run renames onto EXISTING exact names — the retried/speculative
    // attempt path; must replace, not fail, and must leave no .tmp behind
    graft.domain.Descriptors.writeKeyed(df, dir)
    // ignore Hadoop LocalFileSystem's .crc checksum sidecars (present with
    // the pre-fix direct-create writer too); what matters is that the exact
    // names exist and no .tmp intermediate survives the commit
    val names = new java.io.File(dir).list().toSet.filterNot(_.endsWith(".crc"))
    assert(names == Set("0.batch", "1.batch"), s"unexpected files: $names")
    val content = java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "0.batch"))
    assert(content.startsWith("0\t") && content.endsWith("\n"))
  }

  test("R29: runFiles deletes the seq file only when every gate passes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-r29-e2e").toFile
    def gzWrite(name: String, content: Seq[String]): String = {
      val f = new java.io.File(tmp, name)
      val out = new java.io.PrintWriter(new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(f)))
      content.foreach(out.println); out.close()
      f.getAbsolutePath
    }
    // >100 shared loci so the informative-PCA gate passes (R23)
    val nLoci = 150
    val siteRows = (0 until nLoci).map(i => s"1\t${100 + i}\tr$i\tG\tA")
    val seqLine = "POP1 ind_001 " + Seq.fill(nLoci)("1 1 0.5").mkString(" ")
    val seqGz = gzWrite("study.seq.gz", Seq(seqLine))
    val siteGz = gzWrite("study.site.gz", "CHR\tPOS\tID\tREF\tALT" +: siteRows)
    val panelGz = gzWrite("panel.site.gz", "CHR\tPOS\tID\tREF\tALT" +: siteRows)

    val chunks = new java.io.File(tmp, "chunks").getAbsolutePath
    val r = LaserPipeline.runFiles(spark, seqGz, siteGz, panelGz, None,
      Some(chunks), chunkSize = 100, deleteSeqAfterChunks = true)
    assert(r.ok, s"expected clean run, got ${r.firstError} / ${r.gateMessages}")
    assert(r.sharedLoci == nLoci)
    assert(!new java.io.File(seqGz).exists(),
      "seq file must be deleted after a fully successful run")

    // post-gate descriptor emission (reference-PCA + one study-PCA per chunk)
    val refJobs = new java.io.File(tmp, "refjobs").getAbsolutePath
    val studyJobs = new java.io.File(tmp, "studyjobs").getAbsolutePath
    assert(LaserPipeline.emitJobs(spark, r, chunks, siteGz, "HGDP", "HGDP.pc",
      4, 20, refJobs, studyJobs))
    assert(new java.io.File(refJobs, "reference_pca_job.batch").exists())
    assert((0L until r.chunks).forall(i =>
      new java.io.File(studyJobs, s"$i.batch").exists()))
    // gated: a not-ok result writes nothing
    val gatedDir = new java.io.File(tmp, "gated").getAbsolutePath
    assert(!LaserPipeline.emitJobs(spark, r.copy(sharedLoci = 0), chunks, siteGz,
      "HGDP", "HGDP.pc", 4, 20, gatedDir, gatedDir))
    assert(!new java.io.File(gatedDir).exists())

    // gated run (shared loci <= 100 on the small fixtures) → seq kept
    val seqGz2 = gzWrite("study2.seq.gz", Fixtures.seqLines)
    val siteGz2 = gzWrite("study2.site.gz", Fixtures.siteLines)
    val panelGz2 = gzWrite("panel2.site.gz", Fixtures.slPanelLines)
    val r2 = LaserPipeline.runFiles(spark, seqGz2, siteGz2, panelGz2, None,
      Some(new java.io.File(tmp, "chunks2").getAbsolutePath),
      deleteSeqAfterChunks = true)
    assert(!r2.ok)
    assert(new java.io.File(seqGz2).exists(),
      "a gated (not-ok) run must NOT delete the seq file")
  }
}
