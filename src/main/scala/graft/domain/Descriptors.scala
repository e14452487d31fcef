package graft.domain

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** R24/R25/R30: downstream job-descriptor emission.
  *
  * The descriptor families and their JSON keys are the repo's contract with
  * the (out-of-scope) PCA binaries: LASER inputcheck batch — bare JSON line
  * (`LASERInputValidator.java:103-111`); reference-PCA / per-chunk study-PCA
  * / vcf2geno batches — `"%d\t%s\n"` key-TSV-JSON framing
  * (`LASERInputValidator.java:157-183`, `TRACEJobGenerator.java:44-93`);
  * study meta JSON (`TRACEInputValidator.java:240-247`).
  *
  * Descriptor sets are metadata-scale DataFrames; `writeKeyed` writes
  * their files from the tasks, one exactly-named file per row.
  */
object Descriptors {

  /** Per-chunk study-PCA descriptors (`LASERInputValidator.java:168-182`). */
  def laserStudyPca(spark: SparkSession, chunks: Long, chunksDir: String,
      siteFile: String, reference: String, referencePc: String,
      dim: Int, dimHigh: Int): DataFrame =
    spark.range(chunks).select(
      col("id").as("key"),
      to_json(struct(
        lit(reference).as("reference"),
        lit(referencePc).as("reference_pc"),
        concat(lit(s"$chunksDir/"), col("id"), lit(".chunk.seq.gz")).as("seq"),
        lit(siteFile).as("site"),
        lit(dim).as("dim"),
        lit(dimHigh).as("dim_high"))).as("json"),
      concat(col("id"), lit(".batch")).as("file"))

  /** Reference-PCA descriptor (`LASERInputValidator.java:158-164`). */
  def referencePca(spark: SparkSession, reference: String, referencePc: String,
      dim: Int): DataFrame =
    spark.range(1).select(
      lit(1L).as("key"),
      to_json(struct(lit(reference).as("reference"),
        lit(referencePc).as("reference_pc"), lit(dim).as("dim"))).as("json"),
      lit("reference_pca_job.batch").as("file"))

  /** vcf2geno + study-PCA batch descriptor pairs (`TRACEJobGenerator.java:52-93`). */
  def traceBatches(batches: DataFrame, reference: String, referencePc: String,
      studyVcf: String, studyGeno: String, dim: Int, dimHigh: Int): DataFrame =
    batches.select(
      col("batch").as("key"),
      to_json(struct(col("batch_id").as("batch"), col("start"), col("end"),
        lit(reference).as("reference"), lit(studyVcf).as("study_vcf"))).as("vcf2geno_json"),
      to_json(struct(col("batch_id").as("batch"), col("start"), col("end"),
        lit(reference).as("reference"), lit(referencePc).as("reference_pc"),
        lit(studyGeno).as("study_geno"), lit(dim).as("dim"),
        lit(dimHigh).as("dim_high"))).as("study_pca_json"),
      concat(col("batch"), lit(".batch")).as("file"))

  /** Study meta JSON (`TRACEInputValidator.java:240-247`). */
  def studyMetaJson(individuals: Long, totalLoci: Long, sharedLoci: Long,
      format: String): String =
    s"""{"Individuals":$individuals,"Total loci":$totalLoci,""" +
      s""""Shared loci":$sharedLoci,"Format":"$format"}"""

  /** Write each descriptor row as its own exactly-named file with
    * `"%d\t%s\n"` framing, under `outDir`. */
  def writeKeyed(df: DataFrame, outDir: String, jsonCol: String = "json"): Unit =
    writeRouted(df.select(col("key"), col(jsonCol).as("json"), col("file"),
      lit(outDir).as("dir")))

  /** `writeKeyed` for rows `(key, json, file, dir)` that each name their
    * own directory, so descriptor sets bound for several directories go
    * out in one job. Distributed: each task writes its partition's files
    * (same discipline as `ChunkSink`) — the reference's driver loop
    * (`LASERInputValidator.java:168-182`) serializes 1 file per chunk
    * through one process, which stops scaling at the 10⁶–10⁷ chunk counts
    * the chunking design note targets. */
  def writeRouted(df: DataFrame): Unit = {
    // session Hadoop conf, not executor-default (see HadoopConf)
    val hconf = graft.sources.HadoopConf.of(df)
    // the plan's own RDD: rows go to the tasks without a deserializer
    df.select(col("key"), col("json"), col("file"), col("dir")).queryExecution.toRdd
      .foreachPartition { rows =>
        // Attempt-unique temp + rename (ChunkSink's commit discipline):
        // speculative/retried attempts of the same task must never race a
        // direct create(overwrite) on the exact name — a reader could see a
        // partially-written descriptor. Every attempt writes its OWN temp
        // file; the rename is atomic per attempt, and since all attempts of
        // a task produce identical bytes, whichever rename lands last leaves
        // the same content.
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        var files, bytes = 0L
        rows.foreach { r =>
          val (key, json, file) =
            (r.getLong(0), r.getUTF8String(1).toString, r.getUTF8String(2).toString)
          val dir = new org.apache.hadoop.fs.Path(r.getUTF8String(3).toString)
          val fs = dir.getFileSystem(hconf.value)
          val target = new org.apache.hadoop.fs.Path(dir, file)
          val tmp = new org.apache.hadoop.fs.Path(dir, s".$file.$attempt.tmp")
          try {
            val out = fs.create(tmp, true)
            val content = s"$key\t$json\n".getBytes("UTF-8")
            try out.write(content)
            finally out.close()
            files += 1
            bytes += content.length
            // rename refuses an existing destination on some filesystems.
            // All attempts of a row write identical bytes, so an existing
            // target IS the committed result — drop the tmp and move on
            // rather than delete-then-rename, which would open a window
            // where a concurrent reader sees the target missing (and a
            // crash between the delete and the rename would un-commit a
            // previously complete descriptor).
            if (!fs.rename(tmp, target)) {
              if (fs.exists(target)) fs.delete(tmp, false)
              else throw new java.io.IOException(
                s"writeKeyed: rename $tmp -> $target failed with no committed target")
            }
          } catch {
            case e: Throwable =>
              // no half-written .tmp residue on failed attempts
              try fs.delete(tmp, false) catch { case _: Throwable => () }
              throw e
          }
        }
        org.apache.spark.graft.TaskOutput.add(bytes, files)
      }
  }
}
