package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapreduce.Job
import org.apache.hadoop.mapreduce.lib.input.{FileInputFormat, TextInputFormat}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types._

/** Ordered line-oriented input: every domain reader consumes a
  * `DataFrame(idx BIGINT, line STRING)` where `idx` is the 0-based position
  * of the line within its input, so file-backed and in-memory fixtures share
  * one parse path and input order is an explicit column rather than an
  * accident of partitioning.
  *
  * The reference streams each file single-threaded
  * (`LASERInputCheckMapper.java:114`); here order is captured once at read
  * time (`zipWithIndex`, no shuffle; its partition-sizing job only runs for
  * more than one partition, and a gzip file is always one) and every
  * downstream operator is free to parallelize. At 100 TB
  * the gzip inputs are the bottleneck either way: the runbook step is
  * re-encode to parquet/zstd at the ingest boundary, after which `idx`
  * comes for free from the row group order.
  */
object Lines {

  val schema: StructType = StructType(Seq(
    StructField("idx", LongType, nullable = false),
    StructField("line", StringType, nullable = false)))

  /** `line`-field metadata key under which `read` records its path. */
  private val SourceKey = "lines.source"

  /** Read a text file (gzip transparent) preserving line order. The path is
    * recorded in the `line` field's metadata (see `source`).
    *
    * The lines come from Hadoop's `TextInputFormat` directly (the line
    * reader Spark's text source uses, same line breaks and codecs): the
    * text source's relation resolution and query planning cost about 25 ms
    * a file on the driver, more than a small study file's whole scan. A
    * `Path` object, not a string, names the input, so a comma in the path
    * is not read as a path list. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val sc = spark.sparkContext
    val job = Job.getInstance(sc.hadoopConfiguration)
    FileInputFormat.setInputPaths(job, new Path(path))
    val rdd = sc.newAPIHadoopRDD(job.getConfiguration, classOf[TextInputFormat],
        classOf[LongWritable], classOf[Text])
      .map(_._2.toString).zipWithIndex().map {
        case (l, i) => org.apache.spark.sql.Row(i, l)
      }
    val meta = new MetadataBuilder().putString(SourceKey, path).build()
    spark.createDataFrame(rdd, StructType(Seq(schema("idx"),
      schema("line").copy(metadata = meta))))
  }

  /** The scan of a frame still exactly as `read` returned it; a derived
    * frame (filtered, projected, unioned) and an in-memory one (`of`) have
    * none. */
  private def asRead(lines: DataFrame): Option[LogicalRDD] =
    lines.queryExecution.logical match {
      case scan: LogicalRDD if scan.output.map(_.name) == Seq("idx", "line") => Some(scan)
      case _ => None
    }

  /** The path `lines` was read from, while the frame is still exactly what
    * `read` returned. */
  private[sources] def source(lines: DataFrame): Option[String] =
    asRead(lines).map(_.output(1).metadata).filter(_.contains(SourceKey))
      .map(_.getString(SourceKey))

  /** In-memory fixture variant (tests, VALUES-oracle queries). */
  def of(spark: SparkSession, lines: Seq[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = lines.zipWithIndex.map { case (l, i) =>
      org.apache.spark.sql.Row(i.toLong, l)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The (idx, line) pairs of a line set; builds no job. A frame as `read`
    * returned it yields its scan's rows without planning a query (a few ms
    * a file). `Dataset.rdd` would post an SQL execution that runs no job
    * (an empty entry for every listener and the UI); the plan's own RDD
    * posts none. */
  def rows(lines: DataFrame): RDD[(Long, String)] =
    asRead(lines).map(_.rdd).getOrElse(lines.select("idx", "line").queryExecution.toRdd)
      .map(r => (r.getLong(0), r.getUTF8String(1).toString))

  /** `f` folds each partition of `lines` to one summary on the executor;
    * builds no job. The pipelines union the folds of all their inputs and
    * collect them in one map-only job (the reference's map-only input
    * check, `setNumReduceTasks(0)`). */
  def folds[S: scala.reflect.ClassTag](lines: DataFrame)(f: Iterator[(Long, String)] => S): RDD[S] =
    rows(lines).mapPartitions(it => Iterator.single(f(it)))

  /** `folds` of one line set, collected and merged on the driver with
    * `f(Iterator.empty)` as the zero. One Spark job, no shuffle. */
  def fold[S: scala.reflect.ClassTag](lines: DataFrame)(f: Iterator[(Long, String)] => S)(
      merge: (S, S) => S): S =
    folds(lines)(f).collect().foldLeft(f(Iterator.empty))(merge)

  /** Gzip magic-byte sniff (R1, `LASERInputCheckMapper.java:33-51`): Spark
    * decompresses transparently, but "is actually gzip" is itself a declared
    * validation with its own error codes. */
  def isGzip(spark: SparkSession, path: String): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(path))
    try {
      val b0 = in.read(); val b1 = in.read()
      b0 == 0x1f && b1 == 0x8b
    } finally in.close()
  }
}
