package perfbench

import java.io.{File, FileOutputStream, OutputStreamWriter, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream
import scala.util.Random

/** Seeded input generators for the three workloads. Everything here is a
  * pure function of the seed: the same seed writes byte-identical files
  * (gzip headers carry no timestamp, parquet is written by one task from
  * an ordered local collection), which `Main --selftest` checks.
  *
  * The program under test only ever sees the files written here.
  */
object Inputs {

  /** The vocabulary, length range and language mix of the engine's
    * `documents` test table: 31 words drawn uniformly, 10 to 100 words per
    * doc, en 41% and zh/es/fr/de about 15% each. */
  private val vocab: Array[String] = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val langMix = Seq("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15,
    "fr" -> 0.15, "de" -> 0.14)

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  private def doc(id: Long, text: String, lang: String): Doc =
    Doc(id, text, lang, s"src${id % 20}", text.length.toLong)

  private def words(rng: Random, n: Int): String =
    Seq.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" ")

  /** `ids.size` docs whose lengths (10 to 100 words, evenly spread) and
    * languages (the mix above, rounded) are fixed multisets the seed only
    * permutes, so every seed yields the same amount of text. */
  private def randomDocs(rng: Random, ids: Seq[Long]): Seq[Doc] = {
    val n = ids.size
    val lengths = rng.shuffle((0 until n).map(i => 10 + i * 91 / n))
    val langs = rng.shuffle(langMix.flatMap { case (l, w) =>
      Seq.fill(math.round(w * n).toInt)(l) }.padTo(n, "en").take(n))
    ids.indices.map(i => doc(ids(i), words(rng, lengths(i)), langs(i)))
  }

  /** A seeded subset of exactly `share` of `docs`, in id order. */
  private def pick(rng: Random, docs: Seq[Doc], share: Double): Seq[Doc] =
    rng.shuffle(docs).take(math.round(share * docs.size).toInt).sortBy(_.doc_id)

  // ---------------------------------------------------------------- release

  /** The zh stratum is transliterated to Han characters (one per latin
    * letter), the ModelQueries fixture trick, so the release chain's
    * Unicode tokenizer scores real CJK text. */
  private val han: String = (0 until 26).map(i => (0x4e00 + i).toChar).mkString
  private def toHan(s: String): String =
    s.map(c => if (c >= 'a' && c <= 'z') han(c - 'a') else c)

  /** PII appendages (an email or a phone number) on some docs, so the
    * release's redaction stage has findings to redact. */
  private def withPii(d: Doc): Doc = {
    val id = d.doc_id
    val t =
      if (id % 5 == 0) s"${d.text} contact admin$id@example.com now"
      else if (id % 11 == 0) s"${d.text} call +1 555 ${100 + id % 900} 2345 today"
      else d.text
    doc(id, t, d.lang)
  }

  private val spam = "the a of to and " * 8
  private val zeroTokText = "90210 842731 " * 75

  final case class Release(corpus: Seq[Doc], train: Seq[Doc],
      props: Map[String, Any])

  /** `baseDocs` generated docs; `lmTrain` a seeded 80% resample of them;
    * the corpus is every base doc plus the strata `ModelQueries
    * .releaseFixture` plants: spam-prefixed twins of the train docs
    * (+1e6), exact repeats (+2e6), digits-only zero-token docs (+3e6) and
    * an unmodeled `xx` language (+4e6). */
  def release(seed: Long, baseDocs: Int): Release = {
    val rng = new Random(seed)
    val base = randomDocs(rng, (0 until baseDocs).map(_.toLong)).map { d =>
      withPii(if (d.lang == "zh") doc(d.doc_id, toHan(d.text), d.lang) else d)
    }
    val train = pick(rng, base, 0.8)
    val twins = train.map(d => doc(d.doc_id + 1000000L, spam + d.text, d.lang))
    val repeats = pick(rng, base, 0.05).map(d => doc(d.doc_id + 2000000L, d.text, d.lang))
    val zeroTok = pick(rng, base, 0.1).map(d => doc(d.doc_id + 3000000L, zeroTokText, d.lang))
    val unmodeled = pick(rng, base, 0.02).map(d => doc(d.doc_id + 4000000L, d.text, "xx"))
    val corpus = base ++ twins ++ repeats ++ zeroTok ++ unmodeled
    val n = corpus.size.toDouble
    Release(corpus, train, Map(
      "docs" -> corpus.size, "train_docs" -> train.size,
      "exact_dup_share" -> (repeats.size + zeroTok.size) / n,
      "near_dup_share" -> twins.size / n,
      "zero_token_share" -> zeroTok.size / n,
      "unmodeled_share" -> unmodeled.size / n,
      "lang_mix" -> corpus.groupBy(_.lang).map { case (l, ds) => l -> ds.size }
        .toSeq.sortBy(_._1).map { case (l, c) => s"$l:$c" }.mkString(","),
      "corpus_mb" -> corpus.map(_.text.getBytes(UTF_8).length.toLong).sum / 1e6))
  }

  // ----------------------------------------------------------------- stream

  /** Standing corpus, the batch files and the purge set of one stream
    * round. `purgeIds` come from the standing corpus and the first half of
    * the batches only, so no later batch re-submits a purged id. */
  final case class Stream(standing: Seq[Doc], batches: Seq[Seq[Doc]],
      purgeIds: Seq[Long], props: Map[String, Any])

  /** Every batch mixes fresh docs, near-duplicates of standing docs (a
    * suffix edit or a case change), exact repeats of standing docs and
    * near-duplicates of fresh docs from an earlier batch. The total doc
    * count stays below `Dedup`'s default `maxBucket` (1000), so no LSH
    * bucket can reach the cap and the streamed labels must equal the
    * from-scratch labeling. */
  def stream(seed: Long, standingDocs: Int, nBatches: Int, batchDocs: Int,
      purgeDocs: Int): Stream = {
    require(standingDocs + nBatches * batchDocs < 1000,
      "stream inputs must stay below maxBucket")
    val rng = new Random(seed)
    val standing = randomDocs(rng, (0 until standingDocs).map(_.toLong))
    // per batch: 40% fresh, 30% near-duplicates of standing docs, 20% exact
    // repeats of standing docs, 10% near-duplicates of an earlier batch's
    // fresh docs (of a standing doc in the first batch), in seeded order
    val kindsPerBatch = Seq.fill(math.round(0.4 * batchDocs).toInt)("fresh") ++
      Seq.fill(math.round(0.3 * batchDocs).toInt)("near_dup") ++
      Seq.fill(math.round(0.2 * batchDocs).toInt)("exact_dup")
    val kindsAll = kindsPerBatch.padTo(batchDocs, "cross_batch_near_dup").take(batchDocs)
    val freshPool = randomDocs(rng, (0 until nBatches * batchDocs).map(i => -1L - i))
    var fresh = Vector.empty[Doc]
    var kinds = Map.empty[String, Int].withDefaultValue(0)
    val batches = (0 until nBatches).map { b =>
      val tagged = rng.shuffle(kindsAll).zipWithIndex.map { case (k0, i) =>
        val id = 100000L * (b + 1) + i
        val k = if (k0 == "cross_batch_near_dup" && fresh.isEmpty) "near_dup" else k0
        def standingDoc = standing(rng.nextInt(standing.size))
        k -> (k match {
          case "fresh" =>
            val f = freshPool(b * batchDocs + i)
            doc(id, f.text, f.lang)
          case "near_dup" =>
            val s = standingDoc
            doc(id, if (rng.nextBoolean()) s"${s.text} ${words(rng, 1)}"
              else s.text.capitalize, s.lang)
          case "exact_dup" =>
            val s = standingDoc
            doc(id, s.text, s.lang)
          case _ =>
            val s = fresh(rng.nextInt(fresh.size))
            doc(id, s"${s.text} ${words(rng, 1)}", s.lang)
        })
      }
      tagged.foreach { case (k, _) => kinds = kinds.updated(k, kinds(k) + 1) }
      fresh = fresh ++ tagged.collect { case ("fresh", d) => d }
      tagged.map(_._2)
    }
    val early = standing ++ batches.take(nBatches / 2).flatten
    val purgeIds = rng.shuffle(early.map(_.doc_id)).take(purgeDocs).sorted
    val total = standing.size + batches.map(_.size).sum
    Stream(standing, batches, purgeIds, Map(
      "mb" -> (standing ++ batches.flatten).map(_.text.getBytes(UTF_8).length.toLong).sum / 1e6,
      "standing_docs" -> standing.size, "batches" -> nBatches,
      "batch_docs" -> batchDocs, "purge_docs" -> purgeIds.size,
      "fresh_share" -> kinds("fresh").toDouble / (total - standing.size),
      "near_dup_share" -> kinds("near_dup").toDouble / (total - standing.size),
      "exact_dup_share" -> kinds("exact_dup").toDouble / (total - standing.size),
      "cross_batch_near_dup_share" ->
        kinds("cross_batch_near_dup").toDouble / (total - standing.size),
      "lang_mix" -> (standing ++ batches.flatten).groupBy(_.lang)
        .map { case (l, ds) => l -> ds.size }.toSeq.sortBy(_._1)
        .map { case (l, c) => s"$l:$c" }.mkString(",")))
  }

  // ----------------------------------------------------------------- intake

  /** What a submission must produce, derived from how it was generated. */
  final case class Truth(firstError: Option[String], individuals: Long,
      totalLoci: Long, sharedLoci: Long, chunks: Long, chunkFiles: Long,
      descriptors: Long)

  /** One study submission: LASER (`seq`, `site`, `groups`) or TRACE (`vcfs`,
    * `groups`), against the shared reference panel. `inputBytes` is the
    * uncompressed input the engine reads: none for a non-gzip submission,
    * which is rejected on its first two bytes. */
  final case class Submission(id: Int, kind: String, error: Option[String],
      seq: String, site: String, vcfs: Seq[String], groups: String,
      inputBytes: Long, truth: Truth)

  final case class Intake(panel: String, submissions: Seq[Submission],
      props: Map[String, Any])

  /** Rows per LASER chunk file and individuals per TRACE descriptor batch. */
  val chunkSize = 100
  val traceBatchSize = 100

  /** Writes `lines`, gzip-compressed or plain; returns the uncompressed
    * byte count. */
  private def write(f: File, lines: Iterator[String], gzip: Boolean = true): Long = {
    var bytes = 0L
    val raw = new FileOutputStream(f)
    val out = new PrintWriter(new OutputStreamWriter(
      if (gzip) new GZIPOutputStream(raw, 1 << 16) else raw, UTF_8))
    try lines.foreach { l =>
      out.write(l); out.write('\n'); bytes += l.getBytes(UTF_8).length + 1
    } finally out.close()
    bytes
  }

  final case class Locus(chr: String, pos: Long, ref: String, alt: String)

  private val bases = Array("A", "C", "G", "T")

  /** The study loci of one submission: `n` panel loci, the first `shared`
    * with matching alleles (every third in lower case, which still
    * matches), the rest with swapped alleles or at a position the panel
    * lacks. */
  private def studyLoci(rng: Random, panel: IndexedSeq[Locus], n: Int,
      shared: Int): Seq[Locus] = {
    val picked = rng.shuffle(panel.indices.toVector).take(n).sorted.map(panel)
    picked.zipWithIndex.map { case (l, i) =>
      if (i < shared) (if (i % 3 == 0) l.copy(ref = l.ref.toLowerCase) else l)
      else if (i % 2 == 0) l.copy(ref = l.alt, alt = l.ref)
      else l.copy(pos = l.pos + 1)
    }.sortBy(l => (l.chr.toInt, l.pos))
  }

  def intake(seed: Long, dir: File, panelLoci: Int, laserIndiv: Int,
      laserLoci: Int, traceIndiv: Int, traceLoci: Int, vcfFiles: Int,
      pool: Int): Intake = {
    val rng = new Random(seed)
    dir.mkdirs()
    val panel = (0 until panelLoci).map { i =>
      val r = rng.nextInt(4)
      Locus((1 + i % 22).toString, 10000L + 100L * (i / 22) + rng.nextInt(50),
        bases(r), bases((r + 1 + rng.nextInt(3)) % 4))
    }.distinctBy(l => (l.chr, l.pos))
    val panelFile = new File(dir, "panel.site.gz")
    write(panelFile, Iterator("CHR\tPOS\tID\tREF\tALT") ++
      panel.iterator.map(l => s"${l.chr}\t${l.pos}\trs${l.chr}_${l.pos}\t${l.ref}\t${l.alt}"))

    // One submission in four carries a planted error. Per eight: three
    // clean LASER, three clean TRACE, one LASER error (its kind from the
    // seed) and one TRACE submission with a sample missing from groups.
    val laserErrors = Seq("SITE_FILE_HEADER_NO_REF", "SEQ_FILE_MISSING_COLUMNS",
      "SEQ_FILE_IS_NOT_GZIP")
    val laserError = laserErrors((seed % laserErrors.size).toInt.abs)
    val plan = (0 until pool).map(i => i % 8 match {
      case 0 | 2 | 5 => ("laser", None)
      case 1 | 4 | 6 => ("trace", None)
      case 3 => ("laser", Some(laserError))
      case _ => ("trace", Some("VCF_SAMPLE_NOT_IN_GROUP"))
    })
    val subs = plan.zipWithIndex.map { case ((kind, err), id) =>
      val sd = new File(dir, s"sub$id"); sd.mkdirs()
      if (kind == "laser") laser(rng, sd, id, err, panel, laserIndiv, laserLoci)
      else trace(rng, sd, id, err, panel, traceIndiv, traceLoci, vcfFiles)
    }
    Intake(panelFile.getPath, subs, Map(
      "submissions" -> subs.size,
      "laser_submissions" -> subs.count(_.kind == "laser"),
      "trace_submissions" -> subs.count(_.kind == "trace"),
      "laser_individuals_x_loci" -> s"${laserIndiv}x$laserLoci",
      "trace_individuals_x_loci" -> s"${traceIndiv}x$traceLoci",
      "vcf_files_per_batch" -> vcfFiles,
      "panel_loci" -> panel.size,
      "planted_error_share" -> subs.count(_.error.nonEmpty).toDouble / subs.size,
      "input_mb_per_pool" -> subs.map(_.inputBytes).sum / 1e6))
  }

  private val digit = Array("0", "1", "2")
  private val genotype = Array("0/0", "0/1", "1/0", "1/1")
  private val dosage = (0 until 1000).map(i => f"${i / 1000.0}%.3f").toArray

  private def groupsLines(samples: Seq[String]): Iterator[String] =
    samples.iterator.map(s => s"$s\tPOP${math.abs(s.hashCode) % 3}")

  private def laser(rng: Random, dir: File, id: Int, err: Option[String],
      panel: IndexedSeq[Locus], nIndiv: Int, nLoci: Int): Submission = {
    val loci = studyLoci(rng, panel, nLoci, nLoci / 2 + rng.nextInt(nLoci / 4))
    val shared = loci.count(sharedWith(panel)).toLong
    val samples = (0 until nIndiv).map(i => f"s${id}_$i%05d")
    val broken = if (err.contains("SEQ_FILE_MISSING_COLUMNS")) rng.nextInt(nIndiv) else -1
    val seqRows = samples.iterator.zipWithIndex.map { case (s, i) =>
      val k = if (i == broken) nLoci * 3 - 1 else nLoci * 3
      val b = new StringBuilder(s"POP${i % 3}\t$s")
      (0 until k).foreach { j =>
        b += '\t'
        if (j % 3 == 2) b ++= dosage(rng.nextInt(1000)) else b ++= digit(rng.nextInt(3))
      }
      b.toString
    }
    val seq = new File(dir, "study.seq.gz")
    val seqBytes = write(seq, seqRows, gzip = !err.contains("SEQ_FILE_IS_NOT_GZIP"))
    val header = if (err.contains("SITE_FILE_HEADER_NO_REF"))
      "CHR\tPOS\tID\tALLELE1\tALT" else "CHR\tPOS\tID\tREF\tALT"
    val site = new File(dir, "study.site.gz")
    val siteBytes = write(site, Iterator(header) ++
      loci.iterator.map(l => s"${l.chr}\t${l.pos}\t.\t${l.ref}\t${l.alt}"))
    val groups = new File(dir, "study.groups")
    val groupBytes = write(groups, groupsLines(samples), gzip = false)
    val chunks = (nIndiv + chunkSize - 1L) / chunkSize
    val truth = err match {
      case Some("SEQ_FILE_IS_NOT_GZIP") => Truth(err, 0, 0, 0, 0, 0, 0)
      case Some(_) => Truth(err, nIndiv, nLoci, shared, chunks, 0, 0)
      case None => Truth(None, nIndiv, nLoci, shared, chunks, chunks, chunks + 1)
    }
    Submission(id, "laser", err, seq.getPath, site.getPath, Nil, groups.getPath,
      if (err.contains("SEQ_FILE_IS_NOT_GZIP")) 0L else seqBytes + siteBytes + groupBytes,
      truth)
  }

  private def trace(rng: Random, dir: File, id: Int, err: Option[String],
      panel: IndexedSeq[Locus], nIndiv: Int, nLoci: Int, nFiles: Int): Submission = {
    val loci = studyLoci(rng, panel, nLoci, nLoci / 2 + rng.nextInt(nLoci / 4))
    val samples = (0 until nIndiv).map(i => f"t${id}_$i%05d")
    // loci split into contiguous per-file slices, as a per-chromosome-range
    // split of one study would be
    val per = (nLoci + nFiles - 1) / nFiles
    val isShared = sharedWith(panel)
    var bytes = 0L
    val stats = (0 until nFiles).map { f =>
      val slice = loci.slice(f * per, math.min(nLoci, (f + 1) * per))
      val names = if (err.nonEmpty && f == nFiles - 1)
        samples.updated(0, s"ghost_$id") else samples
      val file = new File(dir, s"part$f.vcf.gz")
      bytes += write(file, Iterator("##fileformat=VCFv4.2",
        (Seq("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT")
          ++ names).mkString("\t")) ++
        slice.iterator.map { l =>
          val gts = Iterator.fill(nIndiv)(genotype(rng.nextInt(4))).mkString("\t")
          s"${l.chr}\t${l.pos}\t.\t${l.ref}\t${l.alt}\t50\tPASS\t.\tGT\t$gts"
        })
      val errored = err.nonEmpty && f == nFiles - 1
      (file.getPath, if (errored) 0L else slice.size.toLong,
        if (errored) 0L else slice.count(isShared).toLong)
    }
    val groups = new File(dir, "study.groups")
    bytes += write(groups, groupsLines(samples), gzip = false)
    val total = stats.map(_._2).sum
    val sharedLoci = stats.map(_._3).sum
    val nBatches = (nIndiv + traceBatchSize - 1L) / traceBatchSize
    val truth =
      if (err.nonEmpty) Truth(err, nIndiv, total, sharedLoci, 0, 0, 0)
      else Truth(None, nIndiv, total, sharedLoci, 0, 0, 2 * nBatches)
    Submission(id, "trace", err, "", "", stats.map(_._1), groups.getPath, bytes, truth)
  }

  /** The engine's shared-locus rule, restated: same `chr:pos` and
    * case-insensitive, order-sensitive `REF/ALT` equality. */
  private def sharedWith(panel: IndexedSeq[Locus]): Locus => Boolean = {
    val byKey = panel.map(l => (l.chr, l.pos) -> s"${l.ref}/${l.alt}".toLowerCase).toMap
    l => byKey.get((l.chr, l.pos)).contains(s"${l.ref}/${l.alt}".toLowerCase)
  }
}
