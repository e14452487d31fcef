package org.apache.spark.graft

import org.apache.spark.TaskContext

/** Credits bytes a task wrote through the Hadoop `FileSystem` API itself
  * (exact-name sinks) to the task's output metrics, so listeners and the
  * UI see them as they see a `df.write`. The setters are `private[spark]`,
  * hence this package. A no-op outside a task. */
object TaskOutput {
  def add(bytes: Long, records: Long): Unit =
    Option(TaskContext.get()).foreach { tc =>
      val m = tc.taskMetrics().outputMetrics
      m.setBytesWritten(m.bytesWritten + bytes)
      m.setRecordsWritten(m.recordsWritten + records)
    }
}
