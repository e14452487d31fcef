package graft

import graft.domain.{Descriptors, Fixtures}
import graft.laser.LaserPipeline
import graft.operators.{Par, RangeBatch}
import graft.sources.{Lines, PanelReader}
import graft.trace.TracePipeline

/** End-to-end workflow parity (SURVEY §3): error precedence, threshold
  * gates, counters, chunk side effects, format dispatch. */
class PipelinesSpec extends TestBase {

  private def lines(s: Seq[String]) = Lines.of(spark, s)

  private def gzWrite(dir: java.io.File, name: String, content: Seq[String]): String = {
    val f = new java.io.File(dir, name)
    val out = new java.io.PrintWriter(new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(f)))
    content.foreach(out.println); out.close()
    f.getAbsolutePath
  }

  /** Runs `body` under a job group and returns its result with every Spark
    * job and task-end event the group produced. The listener bus is
    * asynchronous, so the count waits for a sentinel job's start event (one
    * bus queue delivers in order: every earlier event is in by then). */
  private def observed[A](group: String)(body: => A)
      : (A, Int, Seq[org.apache.spark.scheduler.SparkListenerTaskEnd]) = {
    import org.apache.spark.scheduler._
    import scala.jdk.CollectionConverters._
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerTaskEnd]()
    val groupOfStage = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        jobs.add(g)
        j.stageIds.foreach(groupOfStage.put(_, g))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (groupOfStage.get(t.stageId) == group) tasks.add(t)
    }
    val sc = spark.sparkContext
    def inGroup[B](g: String)(f: => B): B = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      val a = inGroup(group)(body)
      val sentinel = s"$group-drained"
      inGroup(sentinel)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!jobs.contains(sentinel)) {
        assert(System.nanoTime() < deadline, "listener bus never delivered the sentinel")
        Thread.sleep(10)
      }
      (a, jobs.asScala.count(_ == group), tasks.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("laser: clean run reports counters, no error; gate fires on low shared loci") {
    val r = LaserPipeline.run(
      lines(Fixtures.seqLines), lines(Fixtures.siteLines),
      lines(Fixtures.slPanelLines), Some(lines(Fixtures.groupsLines)))
    assert(r.firstError.isEmpty)
    assert(r.individuals == 3 && r.totalLoci == 3 && r.chunks == 1)
    // 3 shared loci <= 100 → informative-PCA gate fires (R23)
    assert(r.gateMessages.exists(_.contains("Too few loci")))
    assert(!r.ok)
  }

  test("laser: error precedence — groups error outranks seq and site errors (R22)") {
    val r = LaserPipeline.run(
      lines(Fixtures.badSeqLines :+ "POP1"), lines(Fixtures.badSiteLines),
      lines(Fixtures.slPanelLines), Some(lines(Fixtures.badGroupsLines)))
    assert(r.firstError.map(_.name).contains("GROUPS_FILE_TOO_MANY_COLUMNS"))
    assert(r.firstError.map(_.message)
      .contains("Study groups file has line(s) with more than two columns!"))
  }

  test("laser: cross-file count check SITE_FILE_LOCI_NOT_IN_SEQ (R20)") {
    val shortSite = Seq("CHR\tPOS\tID\tREF\tALT", "1\t100\tr1\tG\tA")
    val r = LaserPipeline.run(
      lines(Fixtures.seqLines), lines(shortSite),
      lines(Fixtures.slPanelLines), None)
    assert(r.firstError.map(_.name).contains("SITE_FILE_LOCI_NOT_IN_SEQ"))
  }

  test("laser file run: gzip sniff precedes parsing (R1) and chunks are written (R19)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-laser").toFile
    def gzWrite(name: String, content: Seq[String]): String = {
      val f = new java.io.File(tmp, name)
      val out = new java.io.PrintWriter(new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(f)))
      content.foreach(out.println); out.close()
      f.getAbsolutePath
    }
    val seqGz = gzWrite("study.seq.gz", Fixtures.seqLines)
    val siteGz = gzWrite("study.site.gz", Fixtures.siteLines)
    val panelGz = gzWrite("panel.site.gz", Fixtures.slPanelLines)
    val notGz = new java.io.File(tmp, "plain.seq.gz")
    java.nio.file.Files.writeString(notGz.toPath, "POP1 ind_001 1 1 0.5")

    val bad = LaserPipeline.runFiles(spark, notGz.getAbsolutePath, siteGz, panelGz, None, None)
    assert(bad.firstError.map(_.name).contains("SEQ_FILE_IS_NOT_GZIP"))

    val chunksDir = new java.io.File(tmp, "chunks").getAbsolutePath
    val ok = LaserPipeline.runFiles(spark, seqGz, siteGz, panelGz, None,
      Some(chunksDir), chunkSize = 2)
    assert(ok.firstError.isEmpty)
    assert(ok.chunks == 2) // 3 rows, chunkSize 2 → full + partial
    assert(new java.io.File(chunksDir, "0.chunk.seq.gz").exists())
    assert(new java.io.File(chunksDir, "1.chunk.seq.gz").exists())
  }

  test("laser: pathological input — counts complete, samples bounded (no full collect)") {
    // 10k broken seq rows (1 column each) + 5k group-membership misses: the
    // driver-side Result must carry the COMPLETE per-code tally but only a
    // capped sample list — the 100 TB contract for the error channel.
    val badSeq = (0 until 10000).map(i => s"only_one_col_$i") ++
      (0 until 5000).map(i => s"POP1\tghost_$i\t1\t1\t0.5")
    val groups = Seq("ind_001\tPOP1")
    val r = LaserPipeline.run(
      lines(badSeq), lines(Fixtures.siteLines),
      lines(Fixtures.slPanelLines), Some(lines(groups)))
    assert(r.errorCounts("SEQ_FILE_TOO_FEW_COLUMNS") == 10000L)
    assert(r.errorCounts("SEQ_SAMPLE_NOT_IN_GROUP") == 5000L)
    assert(r.firstError.map(_.name).contains("SEQ_FILE_TOO_FEW_COLUMNS"))
    // bounded: ≤ 10 samples per code, not 15k findings
    assert(r.errors.size <= 10 * r.errorCounts.size,
      s"expected bounded samples, got ${r.errors.size}")
    assert(r.errors.count(_.code == "SEQ_FILE_TOO_FEW_COLUMNS") == 10)
    assert(r.errors.count(_.code == "SEQ_SAMPLE_NOT_IN_GROUP") == 10)
    // sample list is deterministically ordered (collect_list arrival order
    // is not) — the bit-reproducibility contract extends to Result.errors
    val key = (e: graft.domain.ValidationError) => (e.ordinal, e.file, e.line, e.detail)
    assert(r.errors.map(key) == r.errors.map(key).sorted)
  }

  test("trace: per-file stats, cross-file individual agreement gate (R23)") {
    val vcf2 = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tonly_one",
      "1\t100\trs1\tG\tA\t90\tPASS\t.\tGT\t0/1")
    val r = TracePipeline.run(
      Seq("f1.vcf.gz" -> lines(Fixtures.vcfLines), "f2.vcf.gz" -> lines(vcf2)),
      lines(Fixtures.slPanelLines), None)
    assert(r.firstError.isEmpty)
    assert(r.perFile.map(_.individuals) == Seq(2L, 1L))
    assert(r.gateMessages.exists(_.contains("different number of individuals")))
  }

  test("trace: one-pass multi-file — errored, clean, and empty-body files coexist") {
    val clean = Fixtures.vcfLines
    val emptyBody = Seq(
      "##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tind_001\tind_002")
    val badHeader = Seq("##meta only, no header at all")
    val r = TracePipeline.run(
      Seq("ok.vcf.gz" -> lines(clean), "empty.vcf.gz" -> lines(emptyBody),
        "bad.vcf.gz" -> lines(badHeader)),
      lines(Fixtures.slPanelLines), None)
    assert(r.firstError.map(_.name).contains("VCF_NO_HEADER"))
    assert(r.errors.exists(e => e.code == "VCF_NO_HEADER" && e.file == "bad.vcf.gz"))
    val byId = r.perFile.map(s => s.fileId -> s).toMap
    // clean file: counted; empty-body file: header-derived individuals,
    // zero loci; errored file: all zero
    assert(byId("ok.vcf.gz").individuals == 2 && byId("ok.vcf.gz").totalLoci == 2)
    assert(byId("empty.vcf.gz").individuals == 2 && byId("empty.vcf.gz").totalLoci == 0)
    assert(byId("bad.vcf.gz") == TracePipeline.FileStats("bad.vcf.gz", 0, 0, 0))
    // order preserved from the input file list
    assert(r.perFile.map(_.fileId) == Seq("ok.vcf.gz", "empty.vcf.gz", "bad.vcf.gz"))
  }

  test("trace: empty file list yields a clean gated Result, not a crash") {
    val r = TracePipeline.run(Seq.empty, lines(Fixtures.slPanelLines), None)
    assert(r.firstError.isEmpty && r.perFile.isEmpty)
    assert(r.gateMessages.exists(_.contains("Too few loci")))
    assert(!r.ok)
  }

  test("trace: format dispatch — stubs accepted, unknown rejected (R7)") {
    val ok = TracePipeline.run(Seq("a" -> lines(Fixtures.vcfLines)),
      lines(Fixtures.slPanelLines), None, format = "23andMe")
    assert(ok.firstError.isEmpty) // honest stub: accepted without validation
    val bad = TracePipeline.run(Seq("a" -> lines(Fixtures.vcfLines)),
      lines(Fixtures.slPanelLines), None, format = "plink")
    assert(bad.firstError.map(_.name).contains("FILE_FORMAT_NOT_SUPPORTED"))
  }

  test("trace: VCF header validation precedence (R11)") {
    val noSamples = Seq("##x", "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT")
    val r = TracePipeline.run(Seq("f" -> lines(noSamples)),
      lines(Fixtures.slPanelLines), None)
    assert(r.firstError.map(_.name).contains("VCF_HEADER_NO_SAMPLES"))
    val noHeader = Seq("##only meta")
    val r2 = TracePipeline.run(Seq("f" -> lines(noHeader)),
      lines(Fixtures.slPanelLines), None)
    assert(r2.firstError.map(_.name).contains("VCF_NO_HEADER"))
  }

  test("trace job generation: batch descriptor pairs (R25)") {
    val jobs = Descriptors.traceBatches(RangeBatch.batches(spark, 250, 100),
      "HGDP", "HGDP.pc", "study.vcf.gz", "study.geno", 4, 20)
    val rows = jobs.orderBy("key").collect()
    assert(rows.length == 3) // 3 batches, each carrying a vcf2geno + study-PCA pair
    val last = rows.last
    assert(last.getAs[String]("vcf2geno_json").contains("\"start\":201"))
    assert(last.getAs[String]("study_pca_json").contains("\"end\":250"))
    assert(last.getAs[String]("study_pca_json").contains("\"batch\":\"00002\""))
  }

  test("intake job count: LASER runFiles cold <= 2 jobs, warm <= 1; emitJobs 1; TRACE run cold <= 2, warm <= 1") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-intake-jobs").toFile
    val seq = gzWrite(tmp, "study.seq.gz", Fixtures.seqLines)
    val site = gzWrite(tmp, "study.site.gz", Fixtures.siteLines)
    val panel = gzWrite(tmp, "panel.site.gz", Fixtures.slPanelLines)
    // a second file, so the first TRACE run builds its lookup
    val tracePanel = gzWrite(tmp, "trace-panel.site.gz", Fixtures.slPanelLines)
    val groups = gzWrite(tmp, "groups.txt.gz", Fixtures.groupsLines)
    val vcf2 = Fixtures.vcfLines.map(_.replace("ind_00", "ind_10"))
    val vcfs = Seq(gzWrite(tmp, "a.vcf.gz", Fixtures.vcfLines), gzWrite(tmp, "b.vcf.gz", vcf2))
    val groups2 = gzWrite(tmp, "groups2.txt.gz",
      Fixtures.groupsLines ++ Seq("ind_101\tCEU", "ind_102\tYRI"))

    def laser(run: String) = observed(s"intake-laser-$run")(LaserPipeline.runFiles(spark,
      seq, site, panel, Some(groups), Some(new java.io.File(tmp, s"chunks-$run").getPath),
      chunkSize = 2))
    val (cold, coldJobs, _) = laser("cold")
    val (warm, warmJobs, _) = laser("warm")
    assert(cold.firstError.isEmpty && cold.chunks == 2 && warm == cold)
    assert(coldJobs <= 2, s"cold LaserPipeline.runFiles ran $coldJobs Spark jobs")
    assert(warmJobs <= 1, s"warm LaserPipeline.runFiles ran $warmJobs Spark jobs")
    // the gates want > 100 shared loci; the descriptors only a clean result
    val (emitted, emitJobs, _) = observed("intake-emit")(LaserPipeline.emitJobs(spark,
      warm.copy(sharedLoci = 101), new java.io.File(tmp, "chunks-warm").getPath, site,
      "HGDP", "HGDP.pc", 4, 20, new java.io.File(tmp, "ref").getPath,
      new java.io.File(tmp, "study").getPath))
    assert(emitted && emitJobs == 1, s"LaserPipeline.emitJobs ran $emitJobs Spark jobs")
    def batches(dir: String) = new java.io.File(tmp, dir).list().filter(_.endsWith(".batch")).toSet
    assert(batches("ref") == Set("reference_pca_job.batch"))
    assert(batches("study") == Set("0.batch", "1.batch"))

    def trace(run: String) = observed(s"intake-trace-$run")(TracePipeline.run(
      vcfs.map(f => new java.io.File(f).getName -> Lines.read(spark, f)),
      Lines.read(spark, tracePanel), Some(Lines.read(spark, groups2))))
    val (traceCold, traceColdJobs, _) = trace("cold")
    val (traceWarm, traceWarmJobs, _) = trace("warm")
    assert(traceCold.firstError.isEmpty && traceCold.perFile.map(_.totalLoci) == Seq(2L, 2L))
    assert(traceWarm == traceCold)
    assert(traceColdJobs <= 2, s"cold TracePipeline.run ran $traceColdJobs Spark jobs")
    assert(traceWarmJobs <= 1, s"warm TracePipeline.run ran $traceWarmJobs Spark jobs")
  }

  test("panel lookup cache: a rewritten panel, a second path and an inline panel each get their own lookup") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-panel-cache").toFile
    val vcf = gzWrite(tmp, "a.vcf.gz", Fixtures.vcfLines)
    // plain text, so an equal-length rewrite keeps the file length
    def write(name: String, lines: Seq[String]): String = {
      val f = new java.io.File(tmp, name)
      java.nio.file.Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
      f.getAbsolutePath
    }
    val header = "CHR\tPOS\tID\tREF\tALT"
    val first = "1\t10583\tx\tG\tA"     // the fixture's first body locus
    val second = "22\t16050075\tx\tA\tG" // and its second
    def lookupId(panel: String): Long = PanelReader.withLookup(Lines.read(spark, panel))(_.id)
    def shared(panel: org.apache.spark.sql.DataFrame): Long =
      TracePipeline.run(Seq("a" -> Lines.read(spark, vcf)), panel, None).sharedLoci
    // each file-backed submission counts what an inline panel of the same
    // lines counts
    def check(path: String, lines: Seq[String], expected: Long): Long = {
      assert(shared(Lines.of(spark, lines)) == expected)
      assert(shared(Lines.read(spark, path)) == expected, s"$path: ${lines.mkString(" | ")}")
      lookupId(path)
    }

    val p1 = write("p1.site", Seq(header, first))
    val id1 = check(p1, Seq(header, first), 1L)
    assert(lookupId(p1) == id1, "an unchanged panel reuses its lookup")

    // same path, new contents and length
    write("p1.site", Seq(header, first, second))
    val id2 = check(p1, Seq(header, first, second), 2L)
    assert(id2 != id1)

    // same path and length, one allele changed: the explicit mtime tells
    val f1 = new java.io.File(p1)
    val (len, mtime) = (f1.length, f1.lastModified)
    val swapped = Seq(header, first, second.replace("A\tG", "G\tA"))
    write("p1.site", swapped)
    assert(f1.length == len, "the case needs an equal-length rewrite")
    assert(f1.setLastModified(mtime + 10000L))
    val id3 = check(p1, swapped, 1L)
    assert(id3 != id2)

    // a second path
    val p2 = write("p2.site", Seq(header, second))
    val id4 = check(p2, Seq(header, second), 1L)
    assert(id4 != id3)

    // an inline panel is built per call, destroyed after it, never cached
    val inline = (1 to 2).map(_ =>
      PanelReader.withLookup(Lines.of(spark, Seq(header, second)))(identity))
    assert(inline.map(_.id).distinct.size == 2 && !inline.map(_.id).contains(id4))
    inline.foreach(b => intercept[org.apache.spark.SparkException](b.value))
    assert(lookupId(p2) == id4, "an inline panel leaves the cached lookup in place")
    // a frame derived from a read is not the file's contents any more
    val firstOnly = Lines.read(spark, p1).where(org.apache.spark.sql.functions.col("idx") < 2)
    assert(shared(firstOnly) == 1L && lookupId(p2) == id4)
  }

  test("panel lookup cache: concurrent submissions against two panels match their serial results") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-panel-race").toFile
    val header = "CHR\tPOS\tID\tREF\tALT"
    val panels = Seq(
      gzWrite(tmp, "p1.site.gz", Seq(header, "1\t10583\tx\tG\tA")),
      gzWrite(tmp, "p2.site.gz", Seq(header, "1\t10583\tx\tG\tA", "22\t16050075\tx\tA\tG")))
    val vcfs = (0 until 8).map(i => gzWrite(tmp, s"v$i.vcf.gz", Fixtures.vcfLines))
    def submit(panel: String): TracePipeline.Result = TracePipeline.run(
      vcfs.map(f => new java.io.File(f).getName -> Lines.read(spark, f)),
      Lines.read(spark, panel), None)
    val serial = panels.map(submit)
    assert(serial.map(_.sharedLoci) == Seq(8L, 16L))
    // every thread asks for the panel the previous one replaced, so the one
    // cached lookup changes while submissions that got the old one still run
    val order = Seq(0, 1, 0, 1)
    (1 to 6).foreach { round =>
      val got = Par.run(order.map(i => () => submit(panels(i))))
      assert(got == order.map(serial), s"round $round")
    }
  }

  test("intake posts no SQL execution that runs no job (warm LASER and TRACE submissions)") {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("graft-intake-sql").toFile
    val seq = gzWrite(tmp, "study.seq.gz", Fixtures.seqLines)
    val site = gzWrite(tmp, "study.site.gz", Fixtures.siteLines)
    val panel = gzWrite(tmp, "panel.site.gz", Fixtures.slPanelLines)
    val groups = gzWrite(tmp, "groups.txt.gz", Fixtures.groupsLines)
    val vcfs = Seq(gzWrite(tmp, "a.vcf.gz", Fixtures.vcfLines))
    val chunks = new java.io.File(tmp, "chunks").getAbsolutePath
    def submissions(): Unit = {
      assert(LaserPipeline.runFiles(spark, seq, site, panel, Some(groups),
        Some(chunks), chunkSize = 2).firstError.isEmpty)
      assert(TracePipeline.run(
        vcfs.map(f => new java.io.File(f).getName -> Lines.read(spark, f)),
        Lines.read(spark, panel), Some(Lines.read(spark, groups))).firstError.isEmpty)
    }
    submissions() // warm
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val withJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => started.add(s.executionId)
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => withJobs.add(id.toLong))
    }
    spark.sparkContext.addSparkListener(listener)
    // `observed` returns once the bus has delivered every earlier event
    try observed("intake-sql")(submissions())
    finally spark.sparkContext.removeSparkListener(listener)
    val jobless = started.asScala.filterNot(withJobs.contains)
    assert(jobless.isEmpty, s"${jobless.size} SQL executions ran no job")
  }

  test("chunk writes show in the tasks' output metrics") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-intake-bytes").toFile
    val seq = gzWrite(tmp, "study.seq.gz", Fixtures.seqLines)
    val site = gzWrite(tmp, "study.site.gz", Fixtures.siteLines)
    val panel = gzWrite(tmp, "panel.site.gz", Fixtures.slPanelLines)
    val chunks = new java.io.File(tmp, "chunks")
    val (r, _, tasks) = observed("intake-bytes")(LaserPipeline.runFiles(spark,
      seq, site, panel, None, Some(chunks.getAbsolutePath), chunkSize = 2))
    assert(r.chunks == 2)
    val written = tasks.map(_.taskMetrics.outputMetrics.bytesWritten).sum
    val onDisk = chunks.listFiles().filter(_.getName.endsWith(".chunk.seq.gz")).map(_.length).sum
    assert(written > 0 && written == onDisk, s"listener saw $written bytes, files hold $onDisk")
    assert(tasks.map(_.taskMetrics.outputMetrics.recordsWritten).sum == 3L)
  }
}
