package org.apache.spark.sql.graftbridge

import org.apache.spark.TaskContext

/** The running task's output bytes. Spark's own file writers set them
  * through `BasicWriteTaskStatsTracker`, whose setter is
  * `private[spark]`; graft's staging committer knows the bytes it wrote
  * and records them here instead, so a staged write's task reports its
  * `outputMetrics.bytesWritten` as a `DataFrameWriter` write does. */
object TaskOutput {
  def bytesWritten(bytes: Long): Unit =
    Option(TaskContext.get())
      .foreach(_.taskMetrics().outputMetrics.setBytesWritten(bytes))
}
