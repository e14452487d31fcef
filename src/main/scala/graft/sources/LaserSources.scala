package graft.sources

import graft.domain.{ErrorSummary, ValidationError}
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Try

/** Readers + row rules for the LASER input formats (`SURVEY.md §1.2`).
  *
  * Each reader folds one partition's rows into a bounded summary
  * (`summarize`); a pipeline runs the folds of every input of a submission
  * in one map-only job and merges the per-partition summaries on the
  * driver. The reference's row-at-a-time
  * short-circuiting (`LASERInputCheckMapper.java:121-144`) is reproduced at
  * the *reporting* layer by min-ordinal precedence (`Errors.firstError`).
  */
object SeqReader {

  /** Tab-OR-space tokenizer — unique to the seq format
    * (`LASERInputCheckMapper.java:105`); all other formats are tab-only. */
  private val sep = "[\t ]"

  /** lines(idx, line) → (idx, pop, indiv_id, n_loci, loci ARRAY<STRUCT<a,b,c>>).
    *
    * The variable-width "3 numeric fields per locus" convention
    * (`LASERInputCheckMapper.java:130-136`) becomes one ArrayType column:
    * locus i = tokens[2+3i .. 4+3i].
    */
  def parse(lines: DataFrame): DataFrame = {
    // Arity-broken rows parse to NULL loci / n_loci instead of throwing:
    // `summarize` is the reporting channel for them, and parse-derived
    // aggregates must stay computable on mixed input. The locus count is
    // `arity`'s, so the catalog rows and the intake scan share one rule.
    val nLoci = udf((n: Int) => arity(0L, n).fold(_ => null, k => Long.box(k)))
    val t = lines.select(col("idx"), split(col("line"), sep).as("t"))
      .select(col("idx"), col("t"), nLoci(size(col("t"))).as("n_loci"))
    def field(i: Int) = try_element_at(col("t"), lit(i))
    t.select(col("idx"), field(1).as("pop"), field(2).as("indiv_id"), col("n_loci"),
      expr("""transform(sequence(0, CAST(n_loci AS INT) - 1),
          |  i -> named_struct(
          |    'a', CAST(element_at(t, 3 + i * 3) AS DOUBLE),
          |    'b', CAST(element_at(t, 4 + i * 3) AS DOUBLE),
          |    'c', CAST(element_at(t, 5 + i * 3) AS DOUBLE)))""".stripMargin)
        .as("loci"))
  }

  /** The column count of a seq line and its second column (the
    * individual; null below two columns), exactly as `split(line, '[\t ]')`
    * yields them, without building the 3-per-locus columns. */
  def columns(line: String): (Int, String) = {
    var n = 1
    var start, i = 0
    var second: String = null
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '\t' || c == ' ') {
        n += 1
        if (n == 2) start = i + 1 else if (n == 3) second = line.substring(start, i)
      }
      i += 1
    }
    (n, if (n == 2) line.substring(start) else second)
  }

  /** R12/R13 for a row at `idx` with `n` tokens: its arity error, or its
    * locus count.
    *
    * - `< 5` columns → SEQ_FILE_TOO_FEW_COLUMNS (`:124-128`)
    * - `(n-2) % 3 != 0` → SEQ_FILE_MISSING_COLUMNS (`:130-134`)
    */
  def arity(idx: Long, n: Int): Either[ValidationError, Long] =
    if (n < 5) Left(ValidationError("SEQ_FILE_TOO_FEW_COLUMNS", line = idx, detail = s"$n columns"))
    else if ((n - 2) % 3 != 0)
      Left(ValidationError("SEQ_FILE_MISSING_COLUMNS", line = idx, detail = s"$n columns"))
    else Right((n - 2) / 3L)

  /** One individual's arity-valid rows: how many, and the ≤ `sampleK`
    * smallest of their idx values. */
  final case class Rows(count: Long, firstIdx: Vector[Long])

  /** What one pass over seq rows yields: bounded per-code findings, every
    * individual (INDIVIDUALS, `:146,176`) with its arity-valid rows, the
    * distinct locus counts of the arity-valid rows and the row count. */
  final case class Summary(errors: ErrorSummary.Partial, individuals: Map[String, Rows],
      loci: Set[Long], rows: Long) {
    /** Row findings plus the rules only the whole submission decides:
      * - more than one distinct locus count → SEQ_FILE_INCONSISTENT_COLUMNS
      *   (`:170-174`);
      * - each arity-valid row of an individual ∉ `groups` →
      *   SEQ_SAMPLE_NOT_IN_GROUP (`:138-144`), counted in full, sampled
      *   at its smallest lines. A failed row aborts the reference's scan
      *   before the membership check (`:124-144`), so only arity-valid
      *   rows count. */
    def findings(groups: Option[Set[String]]): ErrorSummary.Partial = {
      val missing = for {
        g <- groups.toSeq
        (id, r) <- individuals if r.count > 0 && !g.contains(id)
      } yield Map("SEQ_SAMPLE_NOT_IN_GROUP" -> ErrorSummary.Bounded(r.count,
        r.firstIdx.map(i => ValidationError("SEQ_SAMPLE_NOT_IN_GROUP", line = i, detail = id))))
      val rowErrs = missing.foldLeft(errors)(ErrorSummary.merge(_, _))
      if (loci.size <= 1) rowErrs
      else ErrorSummary.add(rowErrs, ValidationError("SEQ_FILE_INCONSISTENT_COLUMNS",
        detail = s"${loci.size} distinct locus counts"))
    }
    /** Locus-count consensus: TreeSet-min semantics
      * (`LASERInputCheckMapper.java:254-258` uses `.first()`). */
    def minLoci: Long = loci.minOption.getOrElse(0L)
  }

  /** The seq row rules (R12, R13) over one partition's rows, in ascending
    * idx order (the order of the chunking scan), recording each
    * individual's arity-valid rows for the membership check. */
  def summarize(rows: Iterator[(Long, String)]): Summary = {
    var errors: ErrorSummary.Partial = Map.empty
    val individuals = scala.collection.mutable.HashMap.empty[String, Rows]
    val loci = scala.collection.mutable.HashSet.empty[Long]
    var n = 0L
    rows.foreach { case (idx, line) =>
      val (cols, id) = columns(line)
      if (cols >= 2 && !individuals.contains(id)) individuals(id) = Rows(0L, Vector.empty)
      arity(idx, cols) match {
        case Left(e) => errors = ErrorSummary.add(errors, e)
        case Right(k) =>
          loci += k
          val r = individuals(id)
          individuals(id) = Rows(r.count + 1,
            if (r.firstIdx.size < ErrorSummary.sampleK) r.firstIdx :+ idx else r.firstIdx)
      }
      n += 1
    }
    Summary(errors, individuals.toMap, loci.toSet, n)
  }
}

/** Study site file: gzip TSV with mandatory positional header
  * `CHR POS ID REF ALT` (`LASERInputCheckMapper.java:21-23,203-235`). */
object SiteReader {

  val header: Seq[String] = Seq("CHR", "POS", "ID", "REF", "ALT")

  /** (chr, pos, "REF/ALT") of one tab-separated row in the `CHR POS ID REF
    * ALT` layout — site rows, panel rows and VCF body rows alike. A missing
    * field is null and drops out of the allele string; `pos` stays STRING
    * (the reference only ever string-concats `chr:pos`, `:243`). */
  def locus(line: String): (String, String, String) = {
    val t = line.split("\t", -1)
    def f(i: Int) = if (i < t.length) t(i) else null
    (t(0), f(1), Seq(f(3), f(4)).filter(_ != null).mkString("/"))
  }

  /** Header rules (R10): `>= 5` columns then positional name equality, one
    * distinct error code per column, first mismatch wins (`:206-234`). */
  def validateHeader(headerLine: String): Seq[ValidationError] = {
    val fields = headerLine.split("\t", -1)
    if (fields.length < 5)
      Seq(ValidationError("SITE_FILE_TOO_FEW_COLUMNS", detail = s"${fields.length} columns"))
    else header.zipWithIndex.collectFirst {
      case (want, i) if fields(i) != want =>
        ValidationError(s"SITE_FILE_HEADER_NO_$want", detail = s"found '${fields(i)}'")
    }.toSeq
  }
}

/** Optional groups file: exactly two tab-separated columns, sample → group
  * (`LASERInputCheckMapper.java:74-98`). */
object GroupsReader {

  /** R5 for a line at `idx` with `n` tab-separated columns (`:80-92`). */
  def arity(idx: Long, n: Int): Option[ValidationError] =
    if (n > 2) Some(ValidationError("GROUPS_FILE_TOO_MANY_COLUMNS", line = idx))
    else if (n < 2) Some(ValidationError("GROUPS_FILE_MISSING_COLUMNS", line = idx))
    else None

  /** Bounded R5 findings and the sample (first column) of every line — the
    * reference's in-heap groups set (`:74-98`). */
  final case class Summary(errors: ErrorSummary.Partial, samples: Set[String]) {
    def ++(o: Summary): Summary =
      Summary(ErrorSummary.merge(errors, o.errors), samples ++ o.samples)
  }

  /** R5 over one partition's rows, with the samples seen. */
  def summarize(rows: Iterator[(Long, String)]): Summary = {
    var errors: ErrorSummary.Partial = Map.empty
    val samples = scala.collection.mutable.HashSet.empty[String]
    rows.foreach { case (idx, line) =>
      val t = line.split("\t", -1)
      arity(idx, t.length).foreach(e => errors = ErrorSummary.add(errors, e))
      samples += t(0)
    }
    Summary(errors, samples.toSet)
  }
}

/** Reference ancestry panel: site layout, header skipped blindly
  * (`LASERInputCheckMapper.java:64`), duplicate `chr:pos` keys resolved
  * last-occurrence-wins (HashMap.put overwrite, `:66-69`).
  *
  * The reference loads the whole panel into every mapper's heap via the
  * distributed cache (`:27,267-270`); here one map-only pass builds the same
  * lookup on the driver and broadcasts it to the scans that count shared
  * loci — the data movement of a broadcast hash join (`SURVEY.md §4.2`)
  * without its planning and exchange jobs.
  *
  * A panel read from a file (`Lines.read`) is looked up once per
  * `SparkContext`: the last lookup built stays cached, keyed by the context,
  * the qualified path, the file's length and modification time and
  * `Version`, so every later submission against the same unchanged file
  * skips the build. Nothing outlives the JVM.
  */
object PanelReader {

  /** (chr, pos) → "REF/ALT". */
  type Lookup = Map[(String, String), String]

  /** Part of the cache key: bump it whenever the lookup a file builds
    * changes. */
  private val Version = 1

  private final case class Key(sc: SparkContext, path: String, length: Long,
      modified: Long, version: Int)

  /** The one cached lookup; guarded by `this`. */
  private var cached: Option[(Key, Broadcast[Lookup])] = None

  /** Runs `body` with the panel lookup of `lines`. A lookup of a file-backed
    * panel comes from, or goes to, the cache and stays alive after `body`;
    * any other is destroyed when `body` returns. */
  def withLookup[A](lines: DataFrame)(body: Broadcast[Lookup] => A): A =
    key(lines) match {
      case Some(k) => body(cachedLookup(k, lines))
      case None =>
        val b = broadcast(lines)
        try body(b) finally b.destroy()
    }

  /** The cache key of a panel frame still exactly as `Lines.read` returned
    * it, when its path names one file. */
  private def key(lines: DataFrame): Option[Key] = Lines.source(lines).flatMap { path =>
    val sc = lines.sparkSession.sparkContext
    val p = new Path(path)
    val fs = p.getFileSystem(sc.hadoopConfiguration)
    // a glob or a missing path has no status; a directory's mtime misses
    // edits to the files under it
    Try(fs.getFileStatus(p)).toOption.filter(_.isFile).map(st =>
      Key(sc, fs.makeQualified(p).toString, st.getLen, st.getModificationTime, Version))
  }

  /** The cached lookup for `k`, built from `lines` on a miss. Builds run
    * one at a time, so concurrent submissions against one panel build it
    * once. A replaced lookup may still be read by a submission that got it
    * earlier: it is unpersisted without blocking (its executor copies go;
    * the driver copy serves any task that still reads it) and left to the
    * `ContextCleaner`, which destroys it once nothing refers to it. */
  private def cachedLookup(k: Key, lines: DataFrame): Broadcast[Lookup] = synchronized {
    cached match {
      case Some((`k`, b)) => b
      case old =>
        for ((ok, ob) <- old if !ok.sc.isStopped) ob.unpersist(false)
        cached = None
        val b = broadcast(lines)
        cached = Some(k -> b)
        b
    }
  }

  private type Indexed = Map[(String, String), (Long, String)]

  private def lastWins(a: Indexed, b: Indexed): Indexed =
    b.foldLeft(a) { case (m, (k, v)) =>
      if (m.get(k).exists(_._1 > v._1)) m else m.updated(k, v)
    }

  /** The panel lookup, last occurrence (highest idx) winning, built in one
    * job and broadcast. */
  private def broadcast(lines: DataFrame): Broadcast[Lookup] = {
    val lookup = Lines.fold[Indexed](lines) { rows =>
      val m = scala.collection.mutable.HashMap.empty[(String, String), (Long, String)]
      rows.foreach { case (idx, line) =>
        if (idx > 0) {
          val (chr, pos, alleles) = SiteReader.locus(line)
          if (m.get((chr, pos)).forall(_._1 < idx)) m((chr, pos)) = (idx, alleles)
        }
      }
      m.toMap
    }(lastWins).map { case (k, (_, alleles)) => k -> alleles }
    lines.sparkSession.sparkContext.broadcast(lookup)
  }
}
