package graft.operators

import graft.sources.{HadoopConf, Lines}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.io.{BufferedWriter, IOException, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream
import scala.reflect.ClassTag

/** R19: fixed-size, input-ordered chunking into exactly-named gzip files
  * `<i>.chunk.seq.gz` of `chunkSize` rows (writer rotation
  * `LASERInputCheckMapper.java:148-168`, `chunkSize = 100`
  * `LASERInputValidator.java:18`, naming `:149`).
  *
  * The chunks are written by the same map-only pass that checks the rows,
  * as the reference's mapper writes them while it validates (`:121-168`).
  * Input order is chunk order, so the pass runs over one partition: a gzip
  * file is one partition anyway, and a multi-partition line set is
  * concatenated in idx order by a narrow coalesce (no shuffle, no sort).
  * Exact names rule out `df.write`, which owns its file naming.
  *
  * Commit discipline: the pass writes into a staging directory beside the
  * output; the driver promotes the files to their exact names only once
  * the whole submission has passed, and discards them otherwise. A reject
  * or a failed pass leaves no chunk file under the output directory, and a
  * failed promote leaves the source seq file for a re-run.
  */
object ChunkSink {

  /** lines(idx, line) + chunkSize → lines(idx, line, chunk). */
  def assign(lines: DataFrame, chunkSize: Int): DataFrame =
    lines.withColumn("chunk", (col("idx") / chunkSize).cast("long"))

  /** A fresh staging directory beside `outDir`; the first write creates it. */
  def staging(outDir: String): String = {
    val out = new Path(outDir)
    new Path(out.getParent, s".${out.getName}.staging-${java.util.UUID.randomUUID()}").toString
  }

  /** One pass over `lines` in idx order: every row goes to `visit`, and
    * into `<idx / chunkSize>.chunk.seq.gz` under `staging` when one is
    * given. Fails if an idx is not the next one (0, 1, 2, …). Builds no
    * job: the result holds what `visit` returned, in one partition (none
    * when `lines` has no partition), for the caller to collect with the
    * submission's other folds. The bytes written count as the task's
    * output metrics. */
  def scan[A: ClassTag](lines: DataFrame, staging: Option[String], chunkSize: Int)(
      visit: Iterator[(Long, String)] => A): RDD[A] = {
    // session Hadoop conf, not executor-default (see HadoopConf)
    val hconf = HadoopConf.of(lines)
    Lines.rows(lines).coalesce(1).mapPartitions { it =>
      val sink = staging.map { d => val p = new Path(d); (p, p.getFileSystem(hconf.value)) }
      var next, bytes = 0L
      var raw: FSDataOutputStream = null
      var writer: BufferedWriter = null
      def closeChunk(): Unit = if (writer != null) {
        val w = writer
        writer = null
        w.close()
        bytes += raw.getPos
      }
      val rows = it.map { case row @ (idx, line) =>
        if (idx != next) throw new IllegalStateException(s"ChunkSink.scan: idx $idx " +
          s"where $next was due; the line set is not contiguous and ascending")
        for ((d, fs) <- sink) {
          if (idx % chunkSize == 0) {
            closeChunk()
            raw = fs.create(new Path(d, s"${idx / chunkSize}.chunk.seq.gz"), true)
            writer = new BufferedWriter(new OutputStreamWriter(new GZIPOutputStream(raw), UTF_8))
          }
          writer.write(line); writer.write('\n')
        }
        next += 1
        row
      }
      try {
        val a = visit(rows)
        rows.foreach(_ => ()) // whatever visit left unread still goes to the chunks
        closeChunk()
        org.apache.spark.graft.TaskOutput.add(bytes, if (sink.isEmpty) 0L else next)
        Iterator.single(a)
      } finally if (writer != null) { // a failed pass: the driver discards the staging
        try writer.close() catch { case _: IOException => () }
      }
    }
  }

  /** Moves the staged chunk files to their exact names under `outDir` and
    * returns how many; a file of the same name is replaced. */
  def promote(staging: String, outDir: String, conf: Configuration): Long = {
    val (src, dst) = (new Path(staging), new Path(outDir))
    val fs = dst.getFileSystem(conf)
    val staged =
      if (!fs.exists(src)) Array.empty[Path]
      else fs.listStatus(src).map(_.getPath).filter(_.getName.endsWith(".chunk.seq.gz"))
    if (staged.nonEmpty && !fs.mkdirs(dst))
      throw new IOException(s"ChunkSink.promote: cannot create $dst")
    staged.foreach { p =>
      val target = new Path(dst, p.getName)
      // rename refuses an existing destination on some filesystems
      if (!fs.rename(p, target) && !(fs.delete(target, false) && fs.rename(p, target)))
        throw new IOException(s"ChunkSink.promote: rename $p -> $target failed")
    }
    staged.length.toLong
  }

  /** Deletes a staging directory and whatever is left in it. */
  def discard(staging: String, conf: Configuration): Unit = {
    val p = new Path(staging)
    p.getFileSystem(conf).delete(p, true)
  }
}
