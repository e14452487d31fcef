package perfbench

import graft.domain.Descriptors
import graft.laser.LaserPipeline
import graft.operators.{Curation, Dedup, RangeBatch}
import graft.sources.Lines
import graft.streaming.Streams
import graft.trace.TracePipeline
import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: what it was, its wall seconds and whether its
  * output checked out. */
final case class Op(label: String, sec: Double, ok: Boolean)

/** One cycle of a workload: the unit operations whose latency is reported
  * (`ops`), the other timed operations (`sideOps`, by name), the timed wall
  * of the whole cycle and the uncompressed input megabytes it processed. */
final case class Cycle(ops: Seq[Op], sideOps: Map[String, Op], wallSec: Double,
    mb: Double, failed: Int)

/** A workload generates its inputs from the seed (`generate`, repeated for
  * the set-up median), runs one untimed operation (`warmUp`), then runs
  * cycles until the window closes. Checks that need a second computation
  * run after the window: `finish` returns the operations they fail and
  * what they leave for the run record. */
trait Workload {
  def generate(dir: File): Unit
  def warmUp(): Unit
  def cycle(n: Int): Cycle
  def finish(): (Int, Map[String, Any])
  def props: Map[String, Any]
}

object Workloads {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Drop cached blocks and collect garbage between operations, as
    * `graft.Bench.once` does, so no operation inherits another's state. */
  def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  /** Write `df` as exactly one parquet file at `target`. */
  def writeParquetFile(df: DataFrame, target: File): Unit = {
    val tmp = new File(target.getParentFile, s".${target.getName}.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, target.toPath)
    Dirs.delete(tmp)
  }

  def docsDf(spark: SparkSession, docs: Seq[Inputs.Doc]): DataFrame = {
    import spark.implicits._
    docs.toDS().toDF()
  }

  def span[T](tracer: Option[Tracer], name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))
}

object Dirs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  /** Data files under `dir` whose names end in `suffix`, ignoring Hadoop's
    * hidden checksum and temp files. */
  def count(dir: File, suffix: String): Long =
    Option(dir.listFiles()).toSeq.flatten
      .count(f => !f.getName.startsWith(".") && f.getName.endsWith(suffix)).toLong
}

// ----------------------------------------------------------------- release

/** `Curation.release5` over a generated corpus, in full, one pass at a
  * time. Every pass must return the same funnel as the first; the first is
  * checked against DuckDB running `Curation.release5Sql` over the same
  * parquet files after the run. */
final class ReleaseWorkload(spark: SparkSession, seed: Long, baseDocs: Int,
    tracer: Option[Tracer]) extends Workload {
  import Workloads._
  private val offsetMicro = 395000L
  private var dir: File = _
  private var inputs: Inputs.Release = _
  private var first: Option[Seq[String]] = None

  private def corpusFile = new File(dir, "corpus.parquet")
  private def trainFile = new File(dir, "train.parquet")

  private def pass(): Seq[String] = {
    def read(f: File) = spark.read.parquet(f.getPath).select("doc_id", "text", "lang")
    Curation.release5(read(corpusFile), read(trainFile), offsetMicro)
      .orderBy("lang").collect().toSeq.map(_.mkString("\t"))
  }

  def generate(d: File): Unit = {
    dir = d
    inputs = Inputs.release(seed, baseDocs)
    d.mkdirs()
    writeParquetFile(docsDf(spark, inputs.corpus), corpusFile)
    writeParquetFile(docsDf(spark, inputs.train), trainFile)
  }

  def warmUp(): Unit = { pass(); settle(spark) }

  def cycle(n: Int): Cycle = {
    val (rows, sec) = time(span(tracer, "release5")(pass()))
    val ok = first.forall(_ == rows)
    if (first.isEmpty) first = Some(rows)
    settle(spark)
    Cycle(Seq(Op("release5", sec, ok)), Map.empty, sec,
      inputs.props("corpus_mb").asInstanceOf[Double], if (ok) 0 else 1)
  }

  def finish(): (Int, Map[String, Any]) = (0, Map(
    "funnel" -> first.getOrElse(Nil),
    "oracle_sql" -> Curation.release5Sql(
      s"(SELECT doc_id, text, lang FROM read_parquet('${corpusFile.getPath}'))",
      s"(SELECT doc_id, text, lang FROM read_parquet('${trainFile.getPath}'))",
      offsetMicro)))

  def props: Map[String, Any] = inputs.props
}

// ------------------------------------------------------------------ stream

/** One round: `seedCurationState` over the standing corpus, the first half
  * of the batch files through `curationLoop`, `purgeCurationState`, then
  * the rest through a restarted loop. The unit operation is one
  * micro-batch that carries data, timed by its `triggerExecution`. The
  * first round's seed is the warm-up: a service builds its standing state
  * before it takes traffic, and the seed compiles the shingling, LSH and
  * labeling code every operation shares. Later rounds seed in the window. */
final class StreamWorkload(spark: SparkSession, seed: Long, standingDocs: Int,
    nBatches: Int, batchDocs: Int, purgeDocs: Int, tracer: Option[Tracer])
    extends Workload {
  import Workloads._
  private val threshold = 0.8
  private var dir: File = _
  private var inputs: Inputs.Stream = _
  /** (round, operations, final labels) of every round run. */
  private val finals = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Set[(Long, Long)])]
  private var loopSecs = Vector.empty[Double]
  private var seedSecs = Vector.empty[Double]

  private def state(n: Int) = new File(dir, s"round$n")

  def generate(d: File): Unit = {
    dir = d
    inputs = Inputs.stream(seed, standingDocs, nBatches, batchDocs, purgeDocs)
    d.mkdirs()
    writeParquetFile(docsDf(spark, inputs.standing), new File(d, "standing.parquet"))
    inputs.batches.zipWithIndex.foreach { case (b, i) =>
      writeParquetFile(docsDf(spark, b), new File(d, f"batch$i%03d.parquet"))
    }
  }

  private def seedRound(n: Int): Double = {
    val st = state(n)
    new File(st, "in").mkdirs()
    val standing = spark.read.parquet(new File(dir, "standing.parquet").getPath)
      .select("doc_id", "text")
    val (_, sec) = time(span(tracer, "stream_seed")(Streams.seedCurationState(
      standing, new File(st, "index").getPath, new File(st, "labels").getPath, threshold)))
    seedSecs :+= sec
    settle(spark)
    sec
  }

  def warmUp(): Unit = seedRound(0)

  /** One loop run to completion: each data-carrying micro-batch's
    * `triggerExecution` seconds, and the loop's wall including start and
    * stop. */
  private def loop(st: File): (Seq[Double], Double) = {
    val (q, sec) = time {
      val q = Streams.curationLoop(
        Streams.documentsStream(spark, new File(st, "in").getPath, maxFilesPerTrigger = 1),
        new File(st, "index").getPath, new File(st, "labels").getPath,
        threshold, new File(st, "ckpt").getPath)
      q.awaitTermination()
      q
    }
    q.exception.foreach(e => throw e)
    tracer.foreach(_.watch(q.id, q.recentProgress.length))
    loopSecs :+= sec
    (q.recentProgress.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").longValue / 1e3).toSeq, sec)
  }

  def cycle(n: Int): Cycle = {
    import spark.implicits._
    val seedSec = if (n == 0) 0.0 else seedRound(n)
    val st = state(n)
    val (index, labels) = (new File(st, "index").getPath, new File(st, "labels").getPath)
    def stage(ids: Range): Unit = ids.foreach { i =>
      val name = f"batch$i%03d.parquet"
      java.nio.file.Files.copy(new File(dir, name).toPath, new File(st, s"in/$name").toPath)
    }
    try {
      val half = inputs.batches.size / 2
      stage(0 until half)
      val (b1, w1) = loop(st)
      settle(spark)
      val (_, purgeSec) = time(span(tracer, "stream_purge")(
        Streams.purgeCurationState(spark, index, labels, inputs.purgeIds.toDF("doc_id"))))
      settle(spark)
      stage(half until inputs.batches.size)
      val (b2, w2) = loop(st)
      val last = new File(labels).listFiles().toSeq
        .filter(f => f.getName.matches("v\\d+") && new File(f, "_SUCCESS").exists())
        .maxBy(_.getName.drop(1).toInt)
      val seedOp = if (n == 0) Map.empty[String, Op] else Map("seed_s" -> Op("seed", seedSec, ok = true))
      finals += ((n, b1.size + b2.size + 1 + seedOp.size, spark.read
        .schema("doc_id LONG, cluster_id LONG").parquet(last.getPath)
        .as[(Long, Long)].collect().toSet))
      settle(spark)
      // correctness is settled after the window (`finish`); a wrong final
      // labeling there fails every operation of its round
      Cycle((b1 ++ b2).map(Op("micro_batch", _, ok = true)),
        seedOp + ("purge_s" -> Op("purge", purgeSec, ok = true)),
        seedSec + w1 + purgeSec + w2, inputs.props("mb").asInstanceOf[Double], 0)
    } finally Dirs.delete(st)
  }

  /** Rounds whose final labels differ from `Dedup.clusterDedupFirst` over
    * the surviving docs — the contract `StreamingSpec` pins. */
  private def wrongRounds(): Seq[Int] = {
    import spark.implicits._
    val purged = inputs.purgeIds.toSet
    val survivors = (inputs.standing ++ inputs.batches.flatten)
      .filterNot(d => purged(d.doc_id))
    val want = Dedup.clusterDedupFirst(docsDf(spark, survivors).select("doc_id", "text"),
        minJaccard = Some(threshold))
      .as[(Long, Long)].collect().toSet
    finals.collect { case (n, _, got) if got != want => n }.toSeq
  }

  def finish(): (Int, Map[String, Any]) = {
    val wrong = wrongRounds().toSet
    (finals.collect { case (n, ops, _) if wrong(n) => ops }.sum,
      Map("wrong_rounds" -> wrong.toSeq.sorted, "loop_s" -> loopSecs, "seed_s" -> seedSecs))
  }

  def props: Map[String, Any] = inputs.props
}

// ------------------------------------------------------------------ intake

/** Study submissions in a closed loop over a seeded pool: LASER
  * (`LaserPipeline.runFiles` with chunk output, then `emitJobs`) and TRACE
  * (`TracePipeline.run`, then `Descriptors.traceBatches` + `writeKeyed`).
  * Each result, chunk-file count and descriptor count is checked against
  * the generator's planted truth. */
final class IntakeWorkload(spark: SparkSession, seed: Long, sizes: IntakeSizes,
    tracer: Option[Tracer]) extends Workload {
  import Workloads._
  private var dir: File = _
  private var inputs: Inputs.Intake = _

  private def gen(s: Long, d: File, z: IntakeSizes): Inputs.Intake =
    Inputs.intake(s, d, z.panelLoci, z.laserIndiv, z.laserLoci, z.traceIndiv,
      z.traceLoci, z.vcfFiles, z.pool)

  def generate(d: File): Unit = {
    dir = d
    inputs = gen(seed, d, sizes)
  }

  /** One clean LASER and one clean TRACE submission, generated small from
    * another seed: the same plans, compiled before the window opens. */
  def warmUp(): Unit = {
    val d = new File(dir, "warm-up")
    val warm = gen(seed + 1, d, IntakeSizes(400, 20, 240, 20, 240, sizes.vcfFiles, 2))
    warm.submissions.foreach(s => submit(warm.panel, s, new File(d, s"out${s.id}"), None))
    Dirs.delete(d)
    settle(spark)
  }

  /** Runs one submission, writing under `out`; returns its output check,
    * to be run once the submission's time is taken. */
  private def submit(panel: String, s: Inputs.Submission, out: File,
      tr: Option[Tracer]): () => Boolean = {
    val t = s.truth
    if (s.kind == "laser") {
      val chunks = new File(out, "chunks").getPath
      val r = span(tr, "laser_run")(LaserPipeline.runFiles(spark, s.seq, s.site,
        panel, Some(s.groups), Some(chunks), Inputs.chunkSize))
      if (r.ok) span(tr, "laser_emit")(LaserPipeline.emitJobs(spark, r, chunks,
        s.site, "HGDP", "HGDP.pc", 4, 20, new File(out, "ref").getPath,
        new File(out, "study").getPath))
      () => r.firstError.map(_.name) == t.firstError && r.individuals == t.individuals &&
        r.totalLoci == t.totalLoci && r.sharedLoci == t.sharedLoci &&
        r.chunks == t.chunks &&
        Dirs.count(new File(chunks), ".chunk.seq.gz") == t.chunkFiles &&
        Dirs.count(new File(out, "ref"), ".batch") +
          Dirs.count(new File(out, "study"), ".batch") == t.descriptors
    } else {
      val r = span(tr, "trace_run")(TracePipeline.run(
        s.vcfs.map(f => new File(f).getName -> Lines.read(spark, f)),
        Lines.read(spark, panel), Some(Lines.read(spark, s.groups))))
      if (r.ok) span(tr, "trace_emit") {
        val jobs = Descriptors.traceBatches(
          RangeBatch.batches(spark, r.individuals, Inputs.traceBatchSize),
          "HGDP", "HGDP.pc", "study.vcf.gz", "study.geno", 4, 20)
        Descriptors.writeKeyed(jobs, new File(out, "vcf2geno").getPath, "vcf2geno_json")
        Descriptors.writeKeyed(jobs, new File(out, "pca").getPath, "study_pca_json")
      }
      () => r.firstError.map(_.name) == t.firstError && r.individuals == t.individuals &&
        r.totalLoci == t.totalLoci && r.sharedLoci == t.sharedLoci &&
        Dirs.count(new File(out, "vcf2geno"), ".batch") +
          Dirs.count(new File(out, "pca"), ".batch") == t.descriptors
    }
  }

  /** One pass over the pool, so every cycle has the same mix. */
  def cycle(n: Int): Cycle = {
    val ops = inputs.submissions.map { s =>
      val out = new File(dir, s"out$n-${s.id}")
      val (check, sec) = time(
        try submit(inputs.panel, s, out, tracer)
        catch { case e: Exception =>
          System.err.println(s"[perfbench] submission ${s.id} failed: $e"); () => false
        })
      val ok = try check() finally Dirs.delete(out)
      settle(spark)
      Op(s.kind + s.error.fold("")(e => s" $e"), sec, ok)
    }
    Cycle(ops, Map.empty, ops.map(_.sec).sum,
      inputs.submissions.map(_.inputBytes).sum / 1e6, ops.count(!_.ok))
  }

  def finish(): (Int, Map[String, Any]) = (0, Map.empty)

  def props: Map[String, Any] = inputs.props
}

final case class IntakeSizes(panelLoci: Int, laserIndiv: Int, laserLoci: Int,
    traceIndiv: Int, traceLoci: Int, vcfFiles: Int, pool: Int)
