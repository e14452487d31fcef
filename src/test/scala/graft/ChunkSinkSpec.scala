package graft

import graft.operators.ChunkSink
import graft.sources.Lines

/** R19 boundary cases (SURVEY §5.3): 0 rows, exactly chunkSize, chunkSize+1,
  * trailing partial; exact names, exact contents, gzip framing, input order
  * — through the one chunk-writing path: a staged scan, then the promote. */
class ChunkSinkSpec extends TestBase {

  private def readGz(f: java.io.File): Seq[String] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      new java.util.zip.GZIPInputStream(new java.io.FileInputStream(f)), "UTF-8"))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
    finally in.close()
  }

  private def chunkFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".chunk.seq.gz"))

  /** Scan `n` rows (Lines.of spreads them over several partitions) into a
    * staging directory, promote, and return (chunk count, output dir). */
  private def write(n: Int, chunkSize: Int): (Long, java.io.File) = {
    val root = java.nio.file.Files.createTempDirectory("graft-chunks").toFile
    val out = new java.io.File(root, "chunks")
    val conf = spark.sparkContext.hadoopConfiguration
    val staging = ChunkSink.staging(out.getAbsolutePath)
    val lines = Lines.of(spark, (0 until n).map(i => s"row$i"))
    assert(ChunkSink.scan(lines, Some(staging), chunkSize)(_.size).collect().sum == n)
    val count = try ChunkSink.promote(staging, out.getAbsolutePath, conf)
      finally ChunkSink.discard(staging, conf)
    assert(root.list().toSeq == (if (count == 0) Nil else Seq("chunks")),
      "the staging directory must not outlive the promote")
    (count, out)
  }

  test("empty input: zero chunks, zero files") {
    val (count, dir) = write(0, 100)
    assert(count == 0L)
    assert(chunkFiles(dir).isEmpty)
  }

  test("exactly one full chunk") {
    val (count, dir) = write(100, 100)
    assert(count == 1L)
    val files = chunkFiles(dir)
    assert(files.map(_.getName).toSet == Set("0.chunk.seq.gz"))
    assert(readGz(files.head) == (0 until 100).map(i => s"row$i"))
  }

  test("trailing partial chunk gets its own file (`LASERInputCheckMapper.java:156-168`)") {
    val (count, dir) = write(101, 100)
    assert(count == 2L)
    val byName = chunkFiles(dir).map(f => f.getName -> f).toMap
    assert(byName.keySet == Set("0.chunk.seq.gz", "1.chunk.seq.gz"))
    assert(readGz(byName("1.chunk.seq.gz")) == Seq("row100"))
  }

  test("property: all rows present, each chunk <= chunkSize, order preserved") {
    for (n <- Seq(1, 7, 10, 23, 30); chunkSize <- Seq(1, 3, 10)) {
      val (count, dir) = write(n, chunkSize)
      val expectChunks = (n + chunkSize - 1) / chunkSize
      assert(count == expectChunks, s"n=$n cs=$chunkSize")
      val all = (0L until count).flatMap { c =>
        val rows = readGz(new java.io.File(dir, s"$c.chunk.seq.gz"))
        assert(rows.size <= chunkSize)
        assert(rows.size == chunkSize || c == count - 1, "only the last chunk may be partial")
        rows
      }
      assert(all == (0 until n).map(i => s"row$i"), s"n=$n cs=$chunkSize order/content")
    }
  }

  test("scan fails loudly on a line set whose idx is not contiguous") {
    val gappy = Lines.of(spark, (0 until 10).map(i => s"row$i"))
      .where(org.apache.spark.sql.functions.col("idx") =!= 4)
    val e = intercept[Exception](ChunkSink.scan(gappy, None, 3)(_.size).collect())
    assert(e.getMessage.contains("not contiguous and ascending"), e.getMessage)
  }
}
