package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
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

  /** Read a text file (gzip transparent) preserving line order. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val rdd = internalRows(spark.read.textFile(path).toDF())
      .map(_.getUTF8String(0).toString).zipWithIndex().map {
        case (l, i) => org.apache.spark.sql.Row(i, l)
      }
    spark.createDataFrame(rdd, schema)
  }

  /** In-memory fixture variant (tests, VALUES-oracle queries). */
  def of(spark: SparkSession, lines: Seq[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = lines.zipWithIndex.map { case (l, i) =>
      org.apache.spark.sql.Row(i.toLong, l)
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The (idx, line) pairs of a line set; builds no job. */
  def rows(lines: DataFrame): RDD[(Long, String)] =
    internalRows(lines.select("idx", "line"))
      .map(r => (r.getLong(0), r.getUTF8String(1).toString))

  /** The physical rows of `df`. `Dataset.rdd` would post an SQL execution
    * that runs no job (an empty entry for every listener and the UI);
    * the plan's own RDD posts none. Rows may be reused: copy fields out. */
  private def internalRows(df: DataFrame): RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.queryExecution.toRdd

  /** One map-only pass (the reference's map-only input check,
    * `setNumReduceTasks(0)`): `f` folds each partition to a summary on the
    * executor and `merge` combines the summaries on the driver, with
    * `f(Iterator.empty)` as the zero. One Spark job, no shuffle. */
  def fold[S: scala.reflect.ClassTag](lines: DataFrame)(f: Iterator[(Long, String)] => S)(
      merge: (S, S) => S): S =
    rows(lines).mapPartitions(it => Iterator.single(f(it))).collect()
      .foldLeft(f(Iterator.empty))(merge)

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
