package graft.sources

import org.apache.hadoop.conf.Configuration
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** Serializable carrier for the SESSION's Hadoop configuration, for tasks
  * that open filesystems themselves (exact-name file sinks). A bare
  * `new Configuration()` on an executor loads only classpath defaults and
  * silently drops every `spark.hadoop.*` session setting — credentials,
  * `fs.defaultFS`, endpoint overrides — so writes target the wrong or an
  * unauthenticated filesystem on real clusters. (`Configuration` itself is
  * Writable but not java-Serializable; Spark's own wrapper is
  * `private[spark]`.)
  *
  * A task deserializes the configuration (about a thousand entries, several
  * ms) only when it first reads `value`, so the tasks of a job that touch
  * no file — a sink's empty partitions — skip it.
  */
final class HadoopConf(@transient private val local: Configuration) extends Serializable {
  /** The configuration as `Configuration.write` encodes it; set on the way out. */
  private var encoded: Array[Byte] = _

  @transient lazy val value: Configuration =
    if (local != null) local
    else {
      val c = new Configuration(false)
      c.readFields(new DataInputStream(new ByteArrayInputStream(encoded)))
      c
    }

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    val bytes = new ByteArrayOutputStream()
    value.write(new DataOutputStream(bytes))
    encoded = bytes.toByteArray
    out.defaultWriteObject()
  }
}

object HadoopConf {
  /** Capture the active session's Hadoop configuration. */
  def of(df: org.apache.spark.sql.Dataset[_]): HadoopConf =
    new HadoopConf(df.sparkSession.sparkContext.hadoopConfiguration)
}
